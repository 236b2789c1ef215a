"""Exact-substring duplicate-span detection over an (id, text) corpus.

The training-data-pipeline operator popularized by "Deduplicating Training
Data Makes Language Models Better" (Lee et al., 2022): find text spans of at
least ``k`` tokens that occur verbatim in more than one document. The
published implementation builds one global suffix array; a global suffix
array does not distribute, so this module re-expresses the same semantics
Spark-first:

    tokenize -> slide a k-token window (one gram per position) ->
    hash-group grams -> keep grams seen in >= min_docs distinct docs ->
    per document, merge overlapping [pos, pos+k) hit windows into maximal
    spans (gaps-and-islands over a per-doc window).

Every step is built-in Catalyst expressions (split / transform / slice /
posexplode / md5 / window aggregates) — no Python in the hot path — and
every shuffle is keyed (gram hash, then doc_id), so the operator scales the
way a hash-join does rather than the way a suffix array doesn't. Any span
the suffix-array method reports with length >= k is covered by at least one
shared k-gram, so the merged islands here are exactly the maximal duplicated
spans at k-token resolution.

Reference analogue: this generalizes the reference's whole-file hash-group
(DataControllerSimple.cs:252-301) from "entire blob equal" to "sub-span of
the token stream equal" — same hash-then-group plan, finer key.

Outputs use token positions (span_start inclusive, span_end exclusive) so
results are integer-exact and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col as _tokens


def _gram_hits_toks(base: DataFrame, k: int, min_docs: int) -> DataFrame:
    """(doc_id, toks) -> one row per (doc_id, pos) whose k-token gram at
    ``pos`` also occurs in >= ``min_docs`` distinct documents. Grouping key
    is md5(gram text): the gram string never rides the group-by shuffle
    twice (the semi-join back to positions is on the same 32-char key),
    and md5 exists verbatim in DuckDB so the oracle can reproduce the key
    exactly."""
    grams = base.where(F.size("toks") >= k).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, k))),
            )
        ).alias("pos", "gram_key"),
    )
    if min_docs == 2:
        # "seen in >= 2 distinct docs" == min(doc_id) != max(doc_id):
        # partial map-side min/max instead of the two-phase distinct
        # expansion count_distinct needs — at 100 TB the gram frame is the
        # biggest intermediate in the operator and this keeps its only
        # aggregation a plain hash-agg.
        dup_keys = (
            grams.groupBy("gram_key")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .where(F.col("mn") != F.col("mx"))
            .select("gram_key")
        )
    else:
        dup_keys = (
            grams.groupBy("gram_key")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
            .where(F.col("n_docs") >= min_docs)
            .select("gram_key")
        )
    return grams.join(dup_keys, "gram_key", "left_semi").select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )


def _merge_spans(hits: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos) gram hits -> maximal merged spans per doc.

    The merge is the classic gaps-and-islands pair of windows — a running
    max of prior span ends marks island starts, a running sum of the marks
    numbers the islands — both partitioned by doc_id, so the only shuffle
    after the gram stage is one exchange on doc_id and the per-doc sort is
    bounded by document length."""
    hits = hits.select("doc_id", "pos", (F.col("pos") + k).alias("end"))
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = hits.withColumn(
        "is_new",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("is_new").over(w_run))
    return (
        marked.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def _stats_from_toks(base: DataFrame, k: int, min_docs: int) -> DataFrame:
    """(doc_id, toks) -> (doc_id, n_tokens, n_spans, dup_tokens), one row
    per input doc (short docs report zeros)."""
    spans = _merge_spans(_gram_hits_toks(base, k, min_docs), k)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
    )


def _toks_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks")
    )


def token_gram_hits(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """One row per (doc_id, pos) whose k-token gram at ``pos`` also occurs
    in >= ``min_docs`` distinct documents."""
    return _gram_hits_toks(_toks_frame(docs, id_col, text_col), k, min_docs)


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document: merge each doc's overlapping
    or adjacent [pos, pos + k) gram-hit windows into islands.

    Output: (doc_id, span_start, span_end, span_len) in token positions,
    span_end exclusive."""
    return _merge_spans(
        token_gram_hits(docs, id_col, text_col, k=k, min_docs=min_docs), k
    )


def substring_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplication budget: how many of the doc's tokens sit
    inside some duplicated span. One row per input document (docs shorter
    than k tokens report zero spans), so a pipeline can threshold on
    dup_tokens / n_tokens to route documents to drop / trim / keep.

    Output: (doc_id, n_tokens, n_spans, dup_tokens)."""
    return _stats_from_toks(
        _toks_frame(docs, id_col, text_col), k, min_docs
    )


def corpus_filter_decisions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    dup_num: int = 1,
    dup_den: int = 2,
) -> DataFrame:
    """The corpus-cleaning policy a training pipeline runs after dedup:
    one keep/drop decision per document, combining

    - exact duplication: a doc is dropped when it is a non-representative
      member of an exact content group (keeper = min doc_id — the same
      first-wins rule as the reference's AddBlobInfo set semantics,
      DataControllerSimple.cs:252-301), and
    - substring duplication budget: a doc is dropped when more than
      ``dup_num/dup_den`` of its tokens sit inside spans duplicated across
      >= min_docs documents (Lee et al. 2022's doc-level trim-or-drop
      policy, at drop granularity).

    The substring budget is computed over the exact-group REPRESENTATIVES,
    not the raw corpus — dedup-first, exactly as Lee et al. run exact
    dedup before the substring pass. Otherwise a group's own copies would
    mark the keeper's every token as duplicated and the content would
    vanish from the corpus entirely (no survivor). Members of one exact
    group have identical token sequences by construction (the content key
    is sha256 of the lower/whitespace-collapsed text), so the
    representative's (n_tokens, dup_tokens) are content-level facts shared
    by every member via the cluster_id join.

    The threshold is a rational (dup_num/dup_den, default 1/2) compared in
    integer cross-multiplication — every output column is integer or
    boolean, so the decision is hash-exact against the DuckDB oracle.

    Plan shape: ONE scan and tokenize pass over the corpus builds a skinny
    (doc_id, content_sha, toks) frame, localCheckpointed because three
    consumers read it (group agg, member join probe, rep gram source) and
    would otherwise re-scan the raw corpus per consumer — the same multi-consumer discipline as operators/lsh.pairs_from_buckets
    (a persisted stage table on a cluster).

    Output: (doc_id, cluster_id, is_exact_dup, n_tokens, dup_tokens,
    keep)."""
    from .text_dedup import normalized_text

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("content_sha"),
        _tokens(text_col).alias("toks"),
    ).localCheckpoint()
    groups = base.groupBy("content_sha").agg(
        F.min("doc_id").alias("cluster_id")
    )
    members = base.select("doc_id", "content_sha").join(
        groups, "content_sha"
    )
    reps = base.join(
        groups.select(F.col("cluster_id").alias("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "toks")
    content_stats = _stats_from_toks(reps, k, min_docs).select(
        F.col("doc_id").alias("cluster_id"), "n_tokens", "dup_tokens"
    )
    return members.join(content_stats, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") != F.col("cluster_id")).alias("is_exact_dup"),
        "n_tokens",
        "dup_tokens",
        (
            (F.col("doc_id") == F.col("cluster_id"))
            & (
                F.col("dup_tokens") * F.lit(dup_den)
                <= F.col("n_tokens") * F.lit(dup_num)
            )
        ).alias("keep"),
    )


def trim_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Lee et al. 2022's OTHER remedy: instead of dropping a document
    over its duplication budget (``corpus_filter_decisions``), REMOVE
    the duplicated spans and keep the rest — the trim-granularity
    dedup a pipeline applies to long documents with boilerplate
    headers/footers shared across the crawl.

    Output per document: ``trimmed_text`` (the kept tokens of the
    normalized token stream, space-joined, in order — the training-ready
    form; the original casing/whitespace is not reconstructed),
    ``n_tokens``, ``n_kept_tokens``. NULL text stays NULL.

    Shape: ONE scan-and-tokenize pass builds the skinny (doc_id, toks)
    frame, localCheckpointed because TWO consumers read it (the gram/span
    pass and the trim itself) and would otherwise re-scan the raw corpus — the same multi-consumer discipline as
    ``corpus_filter_decisions``. The spans come from the same
    shared-k-gram hash-group + island merge as
    ``exact_substring_spans``; they aggregate to ONE array per doc
    (spans are disjoint by construction, so membership is
    order-insensitive and collect_list's nondeterministic order is
    harmless), then the trim itself is a nested higher-order filter —
    token position inside any span — entirely JVM-side, no explode of
    the corpus token stream and no Python. NULL text is detected via the
    toks column (split of NULL is NULL, so toks is NULL iff text is)."""
    base = _toks_frame(docs, id_col, text_col).localCheckpoint()
    spans_agg = (
        _merge_spans(_gram_hits_toks(base, k, min_docs), k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    joined = base.join(spans_agg, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(
            "spans",
            F.array().cast("array<struct<span_start:long,span_end:long>>"),
        ),
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s.span_start) & (i < s.span_end),
        ),
    )
    is_null = F.col("toks").isNull()
    return joined.select(
        "doc_id",
        F.when(is_null, F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", kept))
        .alias("trimmed_text"),
        F.coalesce(F.size("toks"), F.lit(0)).cast("long").alias("n_tokens"),
        F.when(is_null, F.lit(0))
        .otherwise(F.size(kept))
        .cast("long")
        .alias("n_kept_tokens"),
    )
