"""Similarity search over an embedding column (array<float>).

Four paths, as a training-data pipeline needs at 100 TB:

- ``brute_force_topk``: EXACT cosine top-k, fully distributed — a
  blocked block-nested-loop over (query block x corpus shard) cogroup
  tiles, one float64 matmul per tile, global window re-rank. The
  correctness baseline every approximate path is recall-gated against;
  n^2 compute, so beyond oracle scale use the paths below.
- ``lsh_topk`` / ``embedding_near_pairs_lsh``: random-hyperplane LSH
  (``band_sketch``: per-band sign-bit keys, vectorized numpy per Arrow
  batch) -> band buckets (capped) -> candidate equi-join -> exact cosine
  verify. Sub-quadratic; banding chosen per regime (8x8-bit default for
  near-dup similarity, finer bands for low thresholds).
- ``ivf_topk``: coarse k-means quantizer (seeded, trained on a
  hash-ordered pseudo-random sample) -> cell-sharded exact search over
  n_probe cells. The mid-similarity generic-ANN path.
- ``ivf_pq_topk``: IVF cells + product-quantization codes (ADC scoring,
  exact re-rank). The 10^12-vector path: the candidate scan reads ~8
  code bytes per vector instead of the full embedding.

Top-k per query = ranking window (row_number <= k) — the same O5/O6
arg-max pattern as the reference's latest-inspection filter
(DataControllerSimple.cs:190-208).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HP_SEED = 0xE1B
# brute_force_topk's tiling: query blocks x corpus shards
Q_BLOCKS = 4
C_SHARDS = 4
SAMPLE_SIZE = 4096  # hash-ordered k-means training sample (ivf / semdedup)
PQ_CODES = 256  # codes per PQ subspace (one uint8)
PQ_REFINE = 4  # ivf_pq_topk re-ranks k * PQ_REFINE ADC candidates exactly
SKETCH_PLANES = 64  # hyperplanes of the sign sketch


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_cosine(pairs: DataFrame, vec_a: str = "vec_a", vec_b: str = "vec_b") -> DataFrame:
    a, b = F.col(vec_a), F.col(vec_b)
    denom = _norm(a) * _norm(b)
    return pairs.withColumn(
        "cosine",
        F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0)),
    )


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (excluding self), fully
    distributed — a blocked block-nested-loop over (query block x corpus
    shard) tiles, no driver-side collect anywhere:

    - every vector gets a deterministic query block ``qb = h(id) % Q`` and
      corpus shard ``cs = h(id) % S``;
    - the query side replicates each row S times (one per corpus shard),
      the corpus side Q times, and a cogroup on (qb, cs) hands each tile
      both sub-frames: one (|Q_b| x dim) @ (dim x |C_s|) float64 matmul +
      vectorized argpartition emits the tile-local top-k per query;
    - a ranking window over the unioned tile results keeps the global
      top-k (exact: every true global neighbor wins its own tile).

    Scale shape: executor memory per task is one tile (n/Q + n/S rows),
    set by Q_BLOCKS/C_SHARDS; total compute is the same n^2 dot
    products an exact answer requires, spread over Q*S independent tasks.
    Shuffled bytes are vectors * (S + Q) replicas — at 10^12 scale use the
    LSH/IVF paths; this operator is the exact baseline the oracle checks."""
    id_type = embeddings.schema[id_col].dataType
    tile_schema = T.StructType(
        [
            T.StructField("vec_id", id_type, False),
            T.StructField("neighbor_id", id_type, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    qside = base.select(
        "vec_id",
        "vec",
        F.pmod(F.xxhash64("vec_id"), F.lit(Q_BLOCKS)).alias("qb"),
        F.explode(F.sequence(F.lit(0), F.lit(C_SHARDS - 1))).alias("cs"),
    )
    cside = base.select(
        "vec_id",
        "vec",
        F.explode(F.sequence(F.lit(0), F.lit(Q_BLOCKS - 1))).alias("qb"),
        F.pmod(F.xxhash64("vec_id"), F.lit(C_SHARDS)).alias("cs"),
    )

    def tile_topk(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "cosine"])
        q = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["vec"]])
        c = np.stack([np.asarray(v, dtype=np.float64) for v in cpdf["vec"]])
        qn = np.linalg.norm(q, axis=1)
        cn = np.linalg.norm(c, axis=1)
        qn[qn == 0] = 1.0
        cn[cn == 0] = 1.0
        sims = (q / qn[:, None]) @ (c / cn[:, None]).T  # (|Qb|, |Cs|)
        qids = qpdf["vec_id"].to_numpy()
        cids = cpdf["vec_id"].to_numpy()
        recs = []
        for i in range(sims.shape[0]):
            s = np.where(cids == qids[i], -np.inf, sims[i])  # exclude self
            top = np.argpartition(-s, min(k, s.size - 1))[: k + 1]
            top = [
                j
                for j in sorted(top, key=lambda j: (-s[j], cids[j]))
                if np.isfinite(s[j])
            ][:k]
            for j in top:
                recs.append((qids[i], cids[j], float(s[j])))
        return pd.DataFrame(recs, columns=["vec_id", "neighbor_id", "cosine"])

    tiles = (
        qside.groupBy("qb", "cs")
        .cogroup(cside.groupBy("qb", "cs"))
        .applyInPandas(tile_topk, schema=tile_schema)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        tiles.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = _HP_SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def band_sketch(
    embeddings: DataFrame,
    dim: int,
    n_planes: int,
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, vec, keys array<long>) — per-BAND hyperplane sketch keys.

    Each band's ``n_planes/bands`` sign bits pack into their own key
    (<= 53 bits: the packing is a float64 dot product with 2^j weights),
    so total planes are unbounded: 8 bands x 8 bits (64 planes) gives
    both high candidate recall (8 chances to agree) AND fine bucket
    granularity (256 keys per band — a 4-bit key yields corpus/16-sized
    buckets that blow past any cap at scale). One matmul + one
    reshape-matmul per Arrow batch."""
    if n_planes % bands != 0:
        raise ValueError("band_sketch: n_planes must be divisible by bands")
    bits_per = n_planes // bands
    if bits_per > 53:
        raise ValueError("band_sketch: at most 53 bits per band")
    planes = _hyperplanes(dim, n_planes)
    weights = (2.0 ** np.arange(bits_per)).astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim)
        bits = (mat @ planes.T) > 0  # (n, n_planes)
        grouped = bits.reshape(len(mat), bands, bits_per).astype(np.float64)
        vals = (grouped @ weights).astype(np.int64)  # (n, bands)
        return pd.Series(list(vals), index=vecs.index)

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        keys_udf(F.col(vec_col)).alias("keys"),
    )


def _banded_rows_materialized(
    embeddings: DataFrame,
    dim: int,
    n_planes: int,
    bands: int,
    id_col: str,
    vec_col: str,
    bucket_cap: int,
) -> DataFrame:
    """SKINNY capped band rows (vec_id, band, key), eagerly materialized.

    The band frame feeds both sides of the candidate self-join; without a
    cut, Catalyst evaluates the sketch UDF chain once per side (the two
    sides' plans canonicalize differently, so AQE cannot reuse the
    exchange) — the Python sketch and the bucket-stats aggregate ran
    TWICE. Vectors are NOT carried through the banding shuffle: the
    candidate pairs re-join them by id (bounded by candidate count), the
    same pull-columns-by-id shape as operators/verify.py."""
    from .lsh import ensure_min_parallelism

    rows = band_sketch(
        ensure_min_parallelism(embeddings), dim, n_planes, bands,
        id_col, vec_col,
    ).select("vec_id", F.posexplode("keys").alias("band", "key"))
    return _cap_buckets(rows, bucket_cap).localCheckpoint()


def _kmeans(sample: np.ndarray, n_cells: int, iters: int = 8, seed: int = 7) -> np.ndarray:
    """Tiny seeded k-means on unit vectors (driver-side, sampled input)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    cents = sample[idx].copy()
    for _ in range(iters):
        assign = (sample @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def _collect_normalized_sample(
    embeddings: DataFrame,
    sample_size: int,
    id_col: str,
    vec_col: str,
) -> np.ndarray:
    """Hash-ordered pseudo-random training sample, unit-normalized:
    order by a hash of the id and take the top-n (a distributed
    TakeOrdered — no full sort, no full scan to the driver). `.limit()`
    alone would take the FIRST partitions only, which on
    partition-correlated data collapses the trained centroids.

    The hash is md5 of the stringified id (not xxhash64) so the DuckDB
    oracle builder (oracles.ivf_training_sample) can replicate the exact
    sample ORDER with hashlib — k-means seeding depends on it."""
    sample_rows = (
        embeddings.select(
            F.col(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
        )
        .orderBy("h")
        .limit(sample_size)
        .select("v")
        .collect()
    )
    sample = np.stack([np.asarray(r[0], dtype=np.float64) for r in sample_rows])
    sn = np.linalg.norm(sample, axis=1)
    sn[sn == 0] = 1.0
    return sample / sn[:, None]


def _train_centroids(
    embeddings: DataFrame,
    n_cells: int,
    sample_size: int,
    id_col: str,
    vec_col: str,
) -> np.ndarray:
    """Seeded coarse-quantizer centroids from the shared sample."""
    return _kmeans(
        _collect_normalized_sample(embeddings, sample_size, id_col, vec_col),
        n_cells,
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``n_cells``
    (seeded k-means over a sample), assign each vector to its nearest
    centroid (one matmul per Arrow batch), and for each query probe its
    ``n_probe`` closest cells — exact cosine only within probed cells.

    Scale story: cells shard the corpus (candidate set ~= n * n_probe /
    n_cells per query); the centroid table is tiny and broadcast; both the
    assignment and probe steps are single matmuls per batch. Recall is
    controlled by n_probe and degrades only when true neighbors straddle
    cell boundaries (random noise corpora are the worst case)."""
    cents = _train_centroids(embeddings, n_cells, SAMPLE_SIZE, id_col, vec_col)
    spark = embeddings.sparkSession
    b_cents = spark.sparkContext.broadcast(cents)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series, n: pd.Series) -> pd.Series:
        c = b_cents.value
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        nm = np.linalg.norm(mat, axis=1)
        nm[nm == 0] = 1.0
        sims = (mat / nm[:, None]) @ c.T
        npp = int(n.iloc[0])
        # stable: ties (e.g. a zero vector — sim 0 to every centroid)
        # resolve to ascending cell index, mirrored by the DuckDB oracle's
        # ORDER BY sim DESC, cell ASC
        order = np.argsort(-sims, axis=1, kind="stable")[:, :npp].astype(np.int32)
        return pd.Series(list(order), index=vecs.index)

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    corpus = base.withColumn(
        "cell", F.element_at(probe_cells("vec", F.lit(1)), 1)
    )
    queries = base.select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.explode(probe_cells("vec", F.lit(n_probe))).alias("cell"),
    )
    cands = (
        queries.join(corpus, "cell")
        .where(F.col("q_id") != F.col("vec_id"))
        .dropDuplicates(["q_id", "vec_id"])
        .select(
            F.col("q_id"), F.col("q_vec"),
            F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("n_vec"),
        )
    )

    # JVM fold cosine (with_cosine) rather than a numpy UDF: the re-rank
    # ordering is then bit-mirrorable by the DuckDB oracle's _cosine_jvm
    scored = with_cosine(cands, "q_vec", "n_vec")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias("vec_id"), "neighbor_id", "rank", "cosine")
    )


def _l2_kmeans(
    sample: np.ndarray, n_codes: int, iters: int = 8, seed: int = 11
) -> np.ndarray:
    """Seeded Euclidean k-means (driver-side, sampled input) — the PQ
    codebook trainer. Unlike ``_kmeans`` (spherical, for the coarse
    quantizer) subvectors are NOT unit vectors, so assignment is by
    squared L2, and empty cells keep their previous centroid."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_codes, len(sample)), replace=False)
    cents = sample[idx].copy()
    for _ in range(iters):
        d2 = (
            (sample * sample).sum(axis=1)[:, None]
            - 2.0 * (sample @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, sample)
        counts = np.bincount(assign, minlength=len(cents))
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cents


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    n_probe: int = 8,
    m_subspaces: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): the 10^12-vector path, where even the
    probed cells' full vectors are too big to scan.

    - Train: coarse centroids (seeded spherical k-means on a hash-ordered
      sample, shared with ``ivf_topk``) + per-subspace PQ codebooks
      (seeded L2 k-means on the same sample's normalized subvectors).
    - Encode: each corpus vector -> (cell, m uint8 codes). At dim=64,
      m=8 that is 8 code bytes + 1 cell int per vector instead of 256
      vector bytes — the candidate scan touches ONLY this compact frame.
    - Search: per query, probe ``n_probe`` nearest cells; candidates are
      scored by asymmetric distance (ADC): one (batch x 256) dot table
      per subspace, then a code lookup — no candidate vector is read.
    - Refine: the top ``k * PQ_REFINE`` ADC candidates per query join back
      to the full vectors for exact cosine; final top-k window. Returned
      ``cosine`` is exact, so downstream thresholds mean the same thing
      they mean for every other top-k operator here.

    Scale story: 10^12 x 64-dim float32 is ~256 TB of vectors; the PQ
    code frame is ~9 TB and cell-pruned to n_probe/n_cells of that per
    query wave, while the full-vector table is only ever probed at
    k*PQ_REFINE rows per query (an equi-join on vec_id, not a scan). The
    codebooks (m x 256 x dim/m floats + n_cells x dim centroids) are a
    few MB broadcast. The candidate join keys on ``cell``, so shuffle
    parallelism (and skew exposure) is bounded by n_cells — size it
    ~sqrt(corpus) like any IVF index (64 here fits the test corpora;
    10^9+ vectors want 10^4-10^5 cells), which also keeps each cell's
    code shard executor-sized. Like ``ivf_topk`` this is recall-gated in
    tests/test_ann_recall.py against ``brute_force_topk`` rather than
    SQL-oracled (driver-side k-means is not SQL-expressible)."""
    spark = embeddings.sparkSession
    # ONE hash-ordered sample collect trains both the coarse quantizer and
    # the PQ codebooks (normalized — queries score against normalized
    # corpus vectors so cosine == dot)
    smp = _collect_normalized_sample(embeddings, SAMPLE_SIZE, id_col, vec_col)
    cents = _kmeans(smp, n_cells)
    dim = smp.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    ds = dim // m_subspaces
    books = np.stack(
        [
            _l2_kmeans(smp[:, m * ds : (m + 1) * ds], PQ_CODES, seed=11 + m)
            for m in range(m_subspaces)
        ]
    )  # (m, PQ_CODES, ds)
    b_cents = spark.sparkContext.broadcast(cents)
    b_books = spark.sparkContext.broadcast(books)

    def _norm_mat(vecs: pd.Series) -> np.ndarray:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        nm = np.linalg.norm(mat, axis=1)
        nm[nm == 0] = 1.0
        return mat / nm[:, None]

    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def encode_pq(vecs: pd.Series) -> pd.Series:
        bk = b_books.value
        mat = _norm_mat(vecs)
        m_, nc, ds_ = bk.shape
        codes = np.empty((len(mat), m_), dtype=np.int16)
        for m in range(m_):
            sub = mat[:, m * ds_ : (m + 1) * ds_]
            cb = bk[m]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ cb.T)
                + (cb * cb).sum(axis=1)[None, :]
            )
            codes[:, m] = d2.argmin(axis=1).astype(np.int16)
        return pd.Series(list(codes), index=vecs.index)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series, n: pd.Series) -> pd.Series:
        sims = _norm_mat(vecs) @ b_cents.value.T
        npp = int(n.iloc[0])
        # stable: tie cells resolve to ascending index (see ivf_topk)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :npp].astype(np.int32)
        return pd.Series(list(order), index=vecs.index)

    t_short = k * PQ_REFINE

    def adc_cell(key, q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        """Per-cell ADC scoring (cogroup): ONE (queries x 256) dot table
        per subspace, a fancy-index gather per candidate block, local
        top-t per query. Query vectors ride to a cell once per probe (not
        once per candidate), and only skinny (q_id, vec_id, adc) rows
        leave — the code frame's vectors are never materialized at all.
        Candidate blocks of <=64k bound the score matrix regardless of
        cell size."""
        if q_pdf.empty or c_pdf.empty:
            return pd.DataFrame(
                {"q_id": pd.Series(dtype="int64"),
                 "vec_id": pd.Series(dtype="int64"),
                 "adc": pd.Series(dtype="float64")}
            )
        bk = b_books.value
        m_, _nc, ds_ = bk.shape
        # vec_id-sorted candidates: the stable top-t argsort below then
        # resolves score ties the same way on every run (shuffle arrival
        # order varies) and identically to the oracle's vec_id tie-break
        c_pdf = c_pdf.sort_values("vec_id")
        qm = _norm_mat(q_pdf["q_vec"])
        q_ids = q_pdf["q_id"].to_numpy()
        c_ids = c_pdf["vec_id"].to_numpy()
        cm = np.stack([np.asarray(c, dtype=np.int64) for c in c_pdf["codes"]])
        tables = [
            qm[:, m * ds_ : (m + 1) * ds_] @ bk[m].T for m in range(m_)
        ]  # each (nq, 256)
        out_q, out_v, out_s = [], [], []
        block = max(1, (1 << 22) // max(len(qm), 1))
        for lo in range(0, len(c_ids), block):
            hi = min(lo + block, len(c_ids))
            scores = tables[0][:, cm[lo:hi, 0]]
            for m in range(1, m_):
                scores = scores + tables[m][:, cm[lo:hi, m]]  # (nq, block)
            # a query's own vector must not occupy a shortlist slot
            scores[c_ids[lo:hi][None, :] == q_ids[:, None]] = -np.inf
            t = min(t_short, scores.shape[1])
            # stable argsort over the vec_id-sorted candidate block: local
            # top-t tie-breaks are exactly (adc DESC, vec_id ASC), which the
            # DuckDB oracle mirrors with a window rank. (argpartition would
            # be O(n) but resolves exact-tie boundaries — real for identical
            # PQ codes, i.e. duplicate vectors — in unspecified order.)
            part = np.argsort(-scores, axis=1, kind="stable")[:, :t]
            out_q.append(np.repeat(q_ids, t))
            out_v.append(c_ids[lo:hi][part.ravel()])
            out_s.append(np.take_along_axis(scores, part, axis=1).ravel())
        return pd.DataFrame(
            {
                "q_id": np.concatenate(out_q),
                "vec_id": np.concatenate(out_v),
                "adc": np.concatenate(out_s),
            }
        )

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    # compact code frame: the ONLY per-corpus-row state the search scans
    code_frame = base.select(
        "vec_id",
        F.element_at(probe_cells("vec", F.lit(1)), 1).alias("cell"),
        encode_pq("vec").alias("codes"),
    )
    queries = base.select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.explode(probe_cells("vec", F.lit(n_probe))).alias("cell"),
    )
    scored_local = (
        queries.groupBy("cell")
        .cogroup(code_frame.groupBy("cell"))
        .applyInPandas(adc_cell, "q_id long, vec_id long, adc double")
        .where(F.col("q_id") != F.col("vec_id"))
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), "vec_id")
    shortlist = (
        scored_local.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= t_short)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    refined = with_cosine(
        shortlist.join(
            base.select(
                F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
            ),
            "q_id",
        ).join(
            base.select(
                F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("n_vec")
            ),
            "neighbor_id",
        ),
        "q_vec",
        "n_vec",
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias("vec_id"), "neighbor_id", "rank", "cosine")
    )


DEFAULT_SKETCH_BUCKET_CAP = 1024


def _cap_buckets(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """Drop degenerate sketch buckets (> bucket_cap members): identical or
    zero embeddings all landing in one (band, key) would make the
    candidate self-join quadratic; an over-full bucket carries almost no
    neighbor information, so skipping it bounds the join (same reasoning
    as operators/lsh.pairs_from_buckets star-capping, simplified for the
    top-k use where star edges have no meaning)."""
    stats = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= bucket_cap)
        .select("band", "key")
    )
    return banded.join(stats, ["band", "key"])


def lsh_topk(
    embeddings: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = SKETCH_PLANES,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share >= 1 of `bands` sketch bands
    (n_planes/bands bits each), then exact cosine on candidates only;
    buckets over DEFAULT_SKETCH_BUCKET_CAP members are dropped.

    Default 8 bands x 8 bits (64 planes, band_sketch): 8 agreement
    chances keep recall@3 >= 0.9 vs brute force on clustered corpora
    (tests/test_ann_recall.py) while 256 keys per band keep buckets
    ~corpus/256 — coarser 4-bit bands have the same recall but
    corpus/16 buckets, whose candidate join blows up at 10^5+ rows."""
    banded = _banded_rows_materialized(
        embeddings, dim, n_planes, bands, id_col, vec_col,
        DEFAULT_SKETCH_BUCKET_CAP,
    )
    a = banded.alias("a")
    b = banded.select(
        F.col("vec_id").alias("neighbor_id"), "band", "key"
    ).alias("b")
    ids = (
        a.join(b, ["band", "key"])
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    # spread the candidate pairs BEFORE the exact-cosine stage: AQE
    # coalesces the small dedup output to ~1 partition, which would run
    # the per-pair cosine expression serially (measured 3s -> 0.3s on
    # 143k pairs) — same pattern as operators/verify.verify_caption_pairs
    ids = ids.repartition(
        ids.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    cands = ids.join(vecs, "vec_id").join(
        vecs.select(
            F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("vec_b")
        ),
        "neighbor_id",
    )
    scored = with_cosine(cands, "vec", "vec_b")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


EXACT_PAIRS_MAX_ROWS = 100_000


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (cosine >= threshold).

    The SQL-expressible correctness baseline (oracle-checkable): pairwise
    cosine via built-in array expressions, a.id < b.id. Quadratic BY
    DESIGN — guarded by ``max_rows`` (one cheap count) so a production
    corpus can't detonate a cartesian: beyond the cap it raises and points
    at ``embedding_near_pairs_lsh``, the sub-quadratic path with identical
    verify semantics. Pass ``max_rows=0`` to disable (tests that own their
    input sizes)."""
    if max_rows:
        n = embeddings.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_dup_pairs is the quadratic oracle baseline: "
                f"{n} rows > max_rows={max_rows} (~{n * (n - 1) // 2:.2e} "
                f"pairs). Use embedding_near_pairs_lsh for corpora at "
                f"this scale, or pass max_rows=0 to force."
            )
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    a = base.select(F.col("id").alias("vec_id_a"), F.col("vec").alias("vec_a"))
    b = base.select(F.col("id").alias("vec_id_b"), F.col("vec").alias("vec_b"))
    pairs = a.crossJoin(b).where(F.col("vec_id_a") < F.col("vec_id_b"))
    return (
        with_cosine(pairs, "vec_a", "vec_b")
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b")
    )


def embedding_near_pairs_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = SKETCH_PLANES,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = DEFAULT_SKETCH_BUCKET_CAP,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: hyperplane-sketch band
    buckets generate candidates, exact cosine verifies (no false
    positives by construction). 8 bands x 8 bits — same recall/bucket
    rationale as lsh_topk; the verify filter mirrors the caption
    LSH+verify shape."""
    banded = _banded_rows_materialized(
        embeddings, dim, n_planes, bands, id_col, vec_col, bucket_cap
    )
    a = banded.alias("a")
    b = banded.select(
        F.col("vec_id").alias("vec_id_b"), "band", "key"
    ).alias("b")
    ids = (
        a.join(b, ["band", "key"])
        .where(F.col("vec_id") < F.col("vec_id_b"))
        .select(F.col("vec_id").alias("vec_id_a"), "vec_id_b")
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    # parallelize the exact-cosine verify (see lsh_topk)
    ids = ids.repartition(
        ids.sparkSession.sparkContext.defaultParallelism, "vec_id_a"
    )
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("vec")
    )
    cands = ids.join(vecs, "vec_id_a").join(
        embeddings.select(
            F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("vec_b")
        ),
        "vec_id_b",
    )
    return (
        with_cosine(cands, "vec", "vec_b")
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 64,
    sample_size: int = SAMPLE_SIZE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): coarse
    k-means clusters the corpus, and within each cluster a vector is
    dropped when some LOWER-id vector in the same cluster has cosine
    similarity >= threshold. "Lower id wins" replaces the paper's
    arbitrary exemplar choice with a deterministic, testable rule; a
    dropped vector still shadows later ones (the greedy chain the common
    implementations use), so exactly one representative of every
    within-cell similarity chain survives.

    Output: one row per input vector — (vec_id, cell, is_kept).

    Scale story: the only quadratic step is the within-cell pair join, and
    cell population is ~n / n_cells — at 100x corpus size n_cells scales
    with n (IVF-style) so per-cell work stays constant; the pair join is a
    single equi-join on cell after an explicit repartition (AQE would
    otherwise coalesce the tiny test-scale shuffle to one task and
    serialize the cosine verify). Centroids are driver-trained on a
    hash-ordered sample and broadcast — no global matrix anywhere."""
    cents = _train_centroids(embeddings, n_cells, sample_size, id_col, vec_col)
    b_cents = embeddings.sparkSession.sparkContext.broadcast(cents)

    @F.pandas_udf(T.IntegerType())
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        c = b_cents.value
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        nm = np.linalg.norm(mat, axis=1)
        nm[nm == 0] = 1.0
        return pd.Series(
            (mat / nm[:, None] @ c.T).argmax(axis=1).astype(np.int32),
            index=vecs.index,
        )

    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("cell", nearest_cell("vec"))
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, "cell"
    ).localCheckpoint()

    prior = corpus.select(
        F.col("vec_id").alias("prior_id"), F.col("vec").alias("prior_vec"), "cell"
    )
    dropped = (
        corpus.join(prior, "cell")
        .where(F.col("prior_id") < F.col("vec_id"))
        .transform(lambda df: with_cosine(df, "vec", "prior_vec"))
        .where(F.col("cosine") >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return corpus.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
    )
