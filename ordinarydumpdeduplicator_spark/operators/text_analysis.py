"""Text analysis for a training-data pipeline: token stats, quality
features, language-ID heuristic, document fingerprints.

All built-in `pyspark.sql.functions` — no UDFs in any of these paths, so
every query is whole-stage-codegen and SQL-oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens_col
from .text_dedup import normalized_text

# the Gopher token-count and mean-token-length windows (Rae et al. 2021
# Table A1; mean length in x10 fixed point), shared with the curation
# funnel's quality stage
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 90
GOPHER_MIN_MEAN_TOK_LEN_X10 = 30
GOPHER_MAX_MEAN_TOK_LEN_X10 = 100
# tiny seeded stopword lists per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counting (whitespace tokenizer, F.* only)."""
    toks = tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        .alias("total_token_len"),
    )


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality-scoring features: lengths, punctuation count, digit count,
    uppercase-start flag; integer outputs (oracle-hash stable)."""
    c = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(c).cast("long").alias("n_chars"),
        F.size(tokens_col(c)).cast("long").alias("n_tokens"),
        (F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))).cast("long").alias("n_punct"),
        (F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))).cast("long").alias("n_digits"),
        (F.length(F.trim(c)) > 0).alias("non_empty"),
    )


def lang_id_heuristic(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-count language ID: score each language by marker-token hits
    within the token set; predict the argmax. 'und' (undetermined) only
    when NO marker hits at all; score ties break alphabetically — the
    deterministic rule the DuckDB oracle mirrors.

    Pure conditional aggregation over the token array — the same
    conditional-count shape as the reference's flag derivation O8
    (SameContentFilesInfo.cs:209-248)."""
    toks = tokens_col(F.col(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(m) for m in markers])
            )
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):  # deterministic tie-break: alpha order
        pred = pred.when(scores[lang] == best, F.lit(lang))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
        pred.alias("lang_pred"),
    )
    return out


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 + sha256 of normalized text (F1/F3
    analogues — BlobInfo hex identity, Common/BlobInfo.cs:114-126)."""
    norm = normalized_text(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm, 256).alias("fp_sha256"),
    )


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BPE-ish token counting: split on word/punctuation boundaries
    (``\\w+`` runs and single non-space punctuation marks each count as one
    token), approximating subword tokenizer counts far better than
    whitespace for budget estimation. Pure regexp — codegen, oracle-able."""
    c = F.col(text_col)
    # count matches by deleting them: n = len - len(without word-runs) etc.
    word_runs = F.size(
        F.filter(F.split(c, r"[^0-9A-Za-z_]+"), lambda x: x != "")
    )
    punct = F.length(F.regexp_replace(c, r"[0-9A-Za-z_\s]", ""))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        word_runs.cast("long").alias("n_word_tokens"),
        punct.cast("long").alias("n_punct_tokens"),
        (word_runs + punct).cast("long").alias("n_bpe_ish_tokens"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprinting with winnowing (Schleimer et
    al., SIGMOD'03): k-gram rolling hashes over the normalized character
    stream, min hash per sliding window, deduplicated — the standard
    near-copy detection sketch. Vectorized numpy inside an Arrow UDF;
    output ``array<bigint>`` sorted ascending (deterministic)."""
    B = np.uint64(1000000007)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            s = " ".join(t.lower().split())
            a = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
            if a.size < k:
                out.append(None)
                continue
            n = a.size - k + 1
            with np.errstate(over="ignore"):
                # h[i] = sum b^(k-1-j) * a[i+j] via strided matmul-free fold
                h = np.zeros(n, dtype=np.uint64)
                for j in range(k):
                    h = h * B + a[j : j + n].astype(np.uint64)
            if n < window:
                sel = np.array([h.min()], dtype=np.uint64)
            else:
                m = np.lib.stride_tricks.sliding_window_view(h, window)
                sel = m.min(axis=1)
            fp = np.unique(sel.astype(np.int64))
            out.append(fp.tolist())
        return pd.Series(out, index=texts.index, dtype=object)

    return docs.select(
        F.col(id_col).alias("doc_id"),
        winnow(F.col(text_col)).alias("fingerprint"),
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rule family, Rae et
    al. 2021 Table A1, at token-n-gram granularity): how much of a
    document is the document repeating itself. Pipelines threshold on
    top_ngram_count / n_ngrams (most-common-n-gram coverage) and
    dup_ngram_positions / n_ngrams (duplicate-n-gram coverage) to drop
    degenerate machine-generated text.

    One row per input document: (doc_id, n_tokens, n_ngrams,
    top_ngram_count, dup_ngram_positions), where dup_ngram_positions
    counts positions whose n-gram occurs >= 2 times IN THE SAME doc (all
    occurrences counted, matching Gopher's duplicate-fraction
    definition). All-integer outputs — hash-exact against DuckDB.

    Plan: one posexplode of md5(n-gram) keys (skinny 32-char shuffle
    values, same trick as operators/substring_dedup), a (doc_id,
    gram_key) hash-agg, then a per-doc hash-agg — both partial-aggregable
    map-side, no windows, no Python."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    )
    grams = base.where(F.size("toks") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, n))),
            )
        ).alias("gram_key"),
    )
    per_gram = grams.groupBy("doc_id", "gram_key").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.max("c").alias("top_ngram_count"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_ngram_positions"
        ),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("top_ngram_count", F.lit(0))
            .cast("long")
            .alias("top_ngram_count"),
            F.coalesce("dup_ngram_positions", F.lit(0))
            .cast("long")
            .alias("dup_ngram_positions"),
        )
    )


def token_freq_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 65536,
    rare_max: int = 2,
) -> DataFrame:
    """Corpus-frequency quality signals: a CCNet-style language-model
    score replaced by its integer-exact proxy. Documents dominated by
    tokens the corpus has (almost) never seen are gibberish/OCR noise;
    documents of only ultra-common tokens are boilerplate. Pipelines
    threshold on n_rare_tokens / n_tokens and sum_token_freq / n_tokens.

    Two stages, both all-integer (hash-exact against the DuckDB oracle):

    1. vocab: token -> corpus count, truncated to the ``top_k`` most
       frequent (ties broken by token text — deterministic). At web
       scale the full vocab is unbounded (typos, hashes); the truncated
       vocab is the thing small enough to broadcast.
    2. score: explode each doc's tokens, map-side join against the
       broadcast vocab (tokens outside it count as frequency 0), per-doc
       sums. No shuffle touches the corpus-sized token stream except the
       final (doc_id) aggregation, which partial-aggregates map-side.

    Outputs per doc: n_tokens, sum_token_freq (sum of corpus counts over
    token *positions*, 0 for out-of-vocab), n_rare_tokens (positions
    whose corpus count <= ``rare_max`` or out-of-vocab), n_oov_tokens
    (positions outside the top-k vocab)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    )
    toks = base.select("doc_id", F.explode("toks").alias("tok"))
    # orderBy+limit = TakeOrderedAndProject: per-partition top-k then a
    # driver merge of k-row heads — NOT a global sort (a row_number window
    # here would single-partition the whole vocab). Full sort key makes
    # the truncation deterministic.
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(top_k)
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("freq", F.lit(0))).alias("sum_token_freq"),
            F.sum(
                F.when(
                    F.coalesce("freq", F.lit(0)) <= rare_max, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_rare_tokens"),
            F.sum(
                F.when(F.col("freq").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov_tokens"),
        )
    )
    return (
        base.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_token_freq", F.lit(0))
            .cast("long")
            .alias("sum_token_freq"),
            F.coalesce("n_rare_tokens", F.lit(0))
            .cast("long")
            .alias("n_rare_tokens"),
            F.coalesce("n_oov_tokens", F.lit(0))
            .cast("long")
            .alias("n_oov_tokens"),
        )
    )


def percentile_buckets(
    scores: DataFrame,
    score_col: str,
    group_col: str = "lang",
    n_buckets: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-group percentile buckets: rank every document
    within its group by a quality score (best first) and cut the group
    into ``n_buckets`` equal-size tiers — CCNet's head/middle/tail split
    by language-model score, with our corpus-frequency proxy (or any
    score column) standing in for the LM.

    Determinism (the oracle contract): the window order is
    (score DESC NULLS LAST, id ASC) — ties and NULL scores (docs with no
    tokens) land identically on both engines — and ``ntile`` follows the
    standard SQL rule (the first ``n mod buckets`` tiers take the extra
    row). ``bucket`` is emitted as BIGINT so the driver's value hash
    agrees with DuckDB's ntile type.

    Scale shape: ntile needs each group's full distribution order, so
    this is one shuffle on ``group_col`` + a per-group sort — honest and
    unavoidable for EXACT percentile cuts, and fine when groups are
    numerous relative to executors (languages, sources, shards). For few
    huge groups at 100 TB, cut instead by thresholds from
    ``approx_percentile`` (one aggregate, no global sort) and accept the
    approximation — this exact form is the oracle-checkable core the
    approx variant is validated against."""
    from pyspark.sql import Window

    if len(labels) != n_buckets:
        raise ValueError(f"need {n_buckets} labels, got {len(labels)}")
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    nt = F.ntile(n_buckets).over(w).cast("long")
    return scores.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        nt.alias("bucket"),
        F.element_at(
            F.array(*[F.lit(x) for x in labels]), nt.cast("int")
        ).alias("bucket_label"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = GOPHER_MIN_TOKENS,
    max_tokens: int = GOPHER_MAX_TOKENS,
    min_mean_tok_len_x10: int = GOPHER_MIN_MEAN_TOK_LEN_X10,
    max_mean_tok_len_x10: int = GOPHER_MAX_MEAN_TOK_LEN_X10,
    top_ngram_num: int = 1,
    top_ngram_den: int = 10,
    dup_ngram_num: int = 1,
    dup_ngram_den: int = 5,
    n: int = 2,
) -> DataFrame:
    """The composite Gopher-rule quality verdict (Rae et al. 2021 Table
    A1, the filter stage every pretraining pipeline runs after dedup):
    one keep/drop per document with the failing rules named, combining

    - token-count window [min_tokens, max_tokens],
    - mean token length window (x10 fixed-point, so the comparison is
      the integer cross-product total_token_len*10 vs bound*n_tokens —
      no float division anywhere, hash-exact against the oracle),
    - most-common-n-gram coverage  <= top_ngram_num/top_ngram_den,
    - duplicate-n-gram coverage    <= dup_ngram_num/dup_ngram_den,
    - language identified (lang_id_heuristic != 'und').

    Reasons appear in this fixed rule order (deterministic array). All
    inputs come from the already-oracled operators (token_stats,
    repetition_stats, lang_id_heuristic) joined on doc_id — three
    hash-agg passes over the token stream plus two broadcast-friendly
    equi-joins; no windows, no Python."""
    # NULL text propagates NULL through every token stat, and a
    # NULL-valued rule condition silently fails to fire (keep=true for
    # the most degenerate document). Normalize: zero counts + 'und'
    # language, so too_short and no_lang fire exactly as for "".
    ts = token_stats(docs, id_col=id_col, text_col=text_col).select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("total_token_len", F.lit(0)).alias("total_token_len"),
    )
    rep = repetition_stats(docs, id_col=id_col, text_col=text_col, n=n)
    lang = lang_id_heuristic(docs, id_col=id_col, text_col=text_col).select(
        "doc_id", F.coalesce("lang_pred", F.lit("und")).alias("lang_pred")
    )
    j = ts.join(rep.drop("n_tokens"), "doc_id").join(lang, "doc_id")
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("too_long", F.col("n_tokens") > max_tokens),
        (
            "tokens_too_short",
            F.col("total_token_len") * 10
            < F.lit(min_mean_tok_len_x10) * F.col("n_tokens"),
        ),
        (
            "tokens_too_long",
            F.col("total_token_len") * 10
            > F.lit(max_mean_tok_len_x10) * F.col("n_tokens"),
        ),
        (
            "top_ngram",
            F.col("top_ngram_count") * top_ngram_den
            > F.lit(top_ngram_num) * F.col("n_ngrams"),
        ),
        (
            "dup_ngrams",
            F.col("dup_ngram_positions") * dup_ngram_den
            > F.lit(dup_ngram_num) * F.col("n_ngrams"),
        ),
        ("no_lang", F.col("lang_pred") == "und"),
    ]
    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])
    )
    return j.select(
        "doc_id",
        "n_tokens",
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def source_quality_rollup(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_docs: int = 1,
    max_dup_rate: float = 0.5,
    min_avg_chars: float = 40.0,
) -> DataFrame:
    """Host/source-level quality rollup for source-grained corpus
    filtering (the C4 / RefinedWeb move: score whole hosts by their
    duplicate rate and document length, then keep or drop the host, not
    individual pages). The source-grained analogue of the reference's
    per-directory duplicate report (DuplicateReport.cs:160-203).

    One hash-aggregate keyed by the source column with an exact
    count(distinct content_sha) — Spark plans this as a two-phase
    partial aggregate (expand + merge), the standard scale shape; the
    key cardinality is hosts, orders of magnitude below rows, so the
    final reduce is tiny. dup_rate and avg_chars are single int/int
    double divisions, IEEE-identical in DuckDB, so the keep verdict is
    value-exact under the oracle."""
    rows = docs.select(
        F.col(source_col).alias("source"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_raw"),
    )
    agg = rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("content_sha")).alias("n_distinct_texts"),
        F.sum("n_chars_raw").alias("sum_chars"),
    )
    avg_chars = F.col("sum_chars").cast("double") / F.col("n_docs")
    dup_rate = (
        (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
        / F.col("n_docs")
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct_texts",
        "sum_chars",
        avg_chars.alias("avg_chars"),
        dup_rate.alias("dup_rate"),
        (
            (F.col("n_docs") >= F.lit(int(min_docs)))
            & (dup_rate <= F.lit(float(max_dup_rate)))
            & (avg_chars >= F.lit(float(min_avg_chars)))
        ).alias("keep_source"),
    )


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF.

    score = tf * (ln((N + 1) / (df + 1)) + 1) — the sklearn-style smooth
    idf, computed entirely in-plan so the operator is one self-contained
    DataFrame expression (no fitted state to ship). Ties break on token
    ASC so ranks are deterministic; both engines evaluate the identical
    double-precision formula, so the DuckDB oracle is value-exact.

    Scale shape: the token explode is map-only; tf is a hash-agg on
    (doc, token); df is a hash-agg on token over the tf frame (already
    one row per (doc, token) — df = count(*), no distinct expansion);
    the idf join is a plain shuffle join on the token key (vocabulary is
    Zipf-heavy-tailed but per-key rows are bounded by corpus doc count,
    and the hot head tokens are exactly the low-idf ones — skew-safe);
    N arrives via a broadcast single-row cross join, never a collect.
    The only sort is the per-document top-k window, keyed by doc —
    group-local, bounded by the doc's distinct-token count.

    Reference analogue: none (the reference never inspects content) —
    beyond-reference training-pipeline surface, SURVEY.md §2.12.
    """
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (
        docs.where(F.col(text_col).isNotNull())
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
        .select(
            "doc_id",
            "rank",
            "token",
            "tf",
            F.round("score", 6).alias("score"),
        )
    )
