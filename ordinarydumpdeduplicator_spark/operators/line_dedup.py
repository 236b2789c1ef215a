"""CCNet/RefinedWeb-style line-level deduplication (boilerplate removal).

The standard web-pipeline pre-step (Wenzek et al., "CCNet", 2020;
RefinedWeb, 2023): a line that appears verbatim in many documents is
boilerplate (nav menus, cookie banners, footers) — drop the line from
every document, keep the rest of the text. This sits BETWEEN whole-doc
exact dedup (operators/text_dedup.exact_text_groups) and token-gram span
dedup (operators/substring_dedup): line granularity, corpus-global
frequency test.

Reference analogue: the same hash-then-group plan as the reference's
whole-blob grouping (DataControllerSimple.cs:252-301), applied to a
finer content key (one normalized line instead of the whole payload) —
exactly how exact_substring_spans generalizes it to k-token grams.

Scale shape (everything built-in Catalyst, no Python):
    posexplode(split(text, '\\n'))             -- map-only explode
    -> hash-agg on md5(normalized line)        -- shuffle 1 (gram-style key)
    -> "in more than one doc" via the min(doc)!=max(doc) trick
       (plain hash-agg, no count_distinct expansion)
    -> join line rows back on the 32-char key  -- same key, exchange reuse
    -> re-assemble per doc                     -- shuffle 2 (doc_id)
The line frame is the biggest intermediate; both of its shuffles are on
high-cardinality keys (md5, doc_id), so the operator scales the way a
hash join does. Hot boilerplate lines ("Home", "") would be mega-groups:
they are collapsed by the aggregate BEFORE any join (the joined stats
frame carries one row per distinct line), so there is no skewed
build/probe side — same pre-collapse idea as operators/lsh.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# shorter duplicated lines ("Yes.", headers) repeat by chance, not as
# boilerplate: line_dedup keeps them (the CCNet convention)
MIN_LINE_CHARS = 10


def _line_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc_id, line_no, line, key). line_no is 0-based source
    order; key is md5 of the whitespace-trimmed lowercased line. Blank
    lines carry key NULL — they are formatting, not content: never counted
    toward duplication, never dropped."""
    norm = F.trim(F.lower(F.col("line")))
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
        )
        .withColumn("key", F.when(norm != "", F.md5(norm)))
    )


def line_duplication_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-global line frequency: one row per duplicated line key —
    (key, n_occurrences, n_docs, line_chars) for lines appearing in
    more than one document. The observability half of the
    operator (what IS the boilerplate), and the frame line_dedup joins
    against."""
    rows = _line_rows(docs, id_col, text_col).where(F.col("key").isNotNull())
    stats = rows.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.min(F.length("line")).cast("long").alias("line_chars"),
    )
    return stats.where(F.col("n_docs") > 1)


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove corpus-duplicated lines from every document.

    A line is dropped when (a) its normalized form occurs in more than
    one document AND (b) it is >= MIN_LINE_CHARS long — short lines
    ("Yes.", headers) duplicate by chance, not by boilerplate; the length
    guard is the CCNet convention. Blank lines always survive.

    Returns one row per input document (NULL-text rows excluded):
        doc_id, clean_text, n_lines, n_dropped, chars_removed
    clean_text preserves the source order of surviving lines; documents
    with nothing dropped pass through byte-identical.

    The more-than-one-doc test is min(doc_id) != max(doc_id) (one plain
    hash-agg over the line frame — count_distinct would two-phase-expand
    the biggest intermediate in the operator).
    """
    rows = _line_rows(docs, id_col, text_col)
    keyed = rows.where(
        F.col("key").isNotNull() & (F.length(F.trim("line")) >= MIN_LINE_CHARS)
    )
    dup_keys = (
        keyed.groupBy("key")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("key")
    )
    flagged = rows.join(
        dup_keys.withColumn("is_dup", F.lit(True)), "key", "left"
    ).select(
        "doc_id",
        "line_no",
        "line",
        (
            F.coalesce(F.col("is_dup"), F.lit(False))
            & (F.length(F.trim("line")) >= MIN_LINE_CHARS)
        ).alias("drop"),
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(~F.col("drop"), F.struct("line_no", "line"))
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            kept.alias("_kept"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("drop").cast("long")).alias("n_dropped"),
            F.sum(
                F.when(F.col("drop"), F.length("line")).otherwise(F.lit(0))
            ).alias("chars_removed"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["line"]), "\n"
            ).alias("clean_text"),
            "n_lines",
            "n_dropped",
            "chars_removed",
        )
    )


# C4's line-keep conditions (Raffel et al. 2020, §2.2: the C4 cleaning
# recipe): terminal punctuation, a minimum word count, and no
# policy/code boilerplate phrase. Doc-level: pages containing any
# DROP_DOC marker are removed outright.
C4_TERMINAL_RE = r'[.!?"]\s*$'
C4_BAD_PHRASES = ("javascript", "cookie policy", "all rights reserved")
C4_DROP_DOC_MARKERS = ("lorem ipsum", "{")


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 1,
    bad_phrases: tuple[str, ...] = C4_BAD_PHRASES,
    drop_doc_markers: tuple[str, ...] = C4_DROP_DOC_MARKERS,
) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020) as one map-only pass:
    (doc_id, n_lines, n_kept, doc_keep, clean_text).

    Line keep rule: ends in terminal punctuation ('.', '!', '?', '"'),
    has >= ``min_words`` whitespace words, and contains no
    ``bad_phrases`` entry (case-insensitive). Doc keep rule: text
    contains no ``drop_doc_markers`` entry AND >= ``min_kept_lines``
    lines survive (C4 uses 5 sentences; default 1 here because the
    driver corpus pages are synthesized short — the parameter is the
    published knob). ``clean_text`` is NULL for dropped docs and for
    NULL input text (n_lines/n_kept read 0, doc_keep false).

    Scale shape: pure per-row expressions over the split-lines array —
    no explode, no shuffle, no UDF; Catalyst keeps the whole operator
    inside one WholeStageCodegen span over the scan, so at 10^12 rows
    it is a free rider on whatever pass reads the text anyway. This is
    deliberately finer-grained than line_dedup above (corpus-global
    frequency) — C4's rules are per-line LOCAL, which is why no
    aggregation appears.

    Reference analogue: none (beyond-reference, SURVEY §2.12); the
    per-line predicate family mirrors the reference's per-file
    readability filters (P2/P3, FileInfo readability checks).
    """
    # matching is against the LOWERED line/text — normalize the phrase
    # lists so a caller's mixed-case phrase can't silently never match
    bad_phrases = tuple(p.lower() for p in bad_phrases)
    drop_doc_markers = tuple(m.lower() for m in drop_doc_markers)
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def keep_line(x):
        words = F.size(F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != ""))
        cond = x.rlike(C4_TERMINAL_RE) & (words >= min_words)
        low = F.lower(x)
        for p in bad_phrases:
            cond = cond & ~low.contains(p)
        return cond

    kept = F.filter(lines, keep_line)
    low_text = F.lower(text)
    marker_hit = F.lit(False)
    for m in drop_doc_markers:
        marker_hit = marker_hit | low_text.contains(m)
    n_lines = F.coalesce(F.size(lines), F.lit(-1))
    n_kept = F.coalesce(F.size(kept), F.lit(-1))
    doc_keep = (
        text.isNotNull() & ~marker_hit & (n_kept >= min_kept_lines)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(n_lines >= 0, n_lines).otherwise(0).cast("long").alias(
            "n_lines"
        ),
        F.when(n_kept >= 0, n_kept).otherwise(0).cast("long").alias(
            "n_kept"
        ),
        doc_keep.alias("doc_keep"),
        F.when(doc_keep, F.concat_ws("\n", kept)).alias("clean_text"),
    )
