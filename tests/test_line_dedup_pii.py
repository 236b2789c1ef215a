"""Line-level dedup (CCNet-style boilerplate removal) + PII scrubbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from ordinarydumpdeduplicator_spark.operators.line_dedup import (
    line_dedup,
    line_duplication_stats,
)
from ordinarydumpdeduplicator_spark.operators.pii import pii_scrub

BOILER = "Subscribe to our newsletter today"
DOCS = [
    (1, f"unique first line\n{BOILER}\nshared tail line here"),
    (2, f"{BOILER}\nanother body line\nshared tail line here"),
    (3, "short\nYes.\nonly in doc three"),
    (4, None),
    (5, ""),
    (6, f"  {BOILER.upper()}  \nsolo content"),  # normalizes to same key
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_line_duplication_stats(spark):
    stats = {r["key"]: r for r in line_duplication_stats(_df(spark)).collect()}
    import hashlib

    boiler_key = hashlib.md5(BOILER.lower().encode()).hexdigest()
    tail_key = hashlib.md5(b"shared tail line here").hexdigest()
    assert stats[boiler_key]["n_docs"] == 3  # docs 1, 2, 6 (case/trim-insensitive)
    assert stats[boiler_key]["n_occurrences"] == 3
    assert stats[tail_key]["n_docs"] == 2
    # every reported key is genuinely multi-doc
    assert all(r["n_docs"] >= 2 for r in stats.values())


def test_line_dedup_drops_boilerplate_keeps_rest(spark):
    out = {r["doc_id"]: r for r in line_dedup(_df(spark)).collect()}
    assert out[1]["clean_text"] == "unique first line"
    assert out[1]["n_dropped"] == 2  # boilerplate + shared tail
    assert out[2]["clean_text"] == "another body line"
    # doc 3: no multi-doc lines -> byte-identical passthrough
    assert out[3]["clean_text"] == DOCS[2][1]
    assert out[3]["n_dropped"] == 0
    # NULL text is excluded entirely; empty text survives as one blank line
    assert 4 not in out
    assert out[5]["clean_text"] == "" and out[5]["n_lines"] == 1
    # normalized match drops the upper-cased variant too, original casing gone
    assert out[6]["clean_text"] == "solo content"
    assert out[6]["chars_removed"] == len(f"  {BOILER.upper()}  ")


def test_line_dedup_short_lines_never_dropped(spark):
    df = spark.createDataFrame(
        [(1, "Yes.\nbody one"), (2, "Yes.\nbody two")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["clean_text"] == "Yes.\nbody one"  # < 10 chars: kept
    assert out[1]["n_dropped"] == 0


def test_line_dedup_plan_no_python(spark):
    df = _df(spark)
    out = line_dedup(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # no Python evaluation nodes (the createDataFrame SOURCE mentions
    # applySchemaToPythonRDD — that's the test fixture, not the operator)
    for node in ("ArrowEvalPython", "BatchEvalPython", "InPandas"):
        assert node not in plan
    # the dup-key test is a plain hash aggregate (min!=max), never a sort
    assert "HashAggregate" in plan


def test_pii_scrub_types_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call +1 415 555 0199."),
            (2, "server 10.0.121.7 answered; backup at 192.168.0.1"),
            (3, "no pii here, just text with numbers 42 and 7"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "<EMAIL>" in out[1]["clean_text"]
    assert "<PHONE>" in out[1]["clean_text"]
    assert "jo.doe" not in out[1]["clean_text"]
    assert out[2]["n_ips"] == 2
    assert out[2]["clean_text"].count("<IP>") == 2
    assert out[3]["has_pii"] is False
    assert out[3]["clean_text"] == "no pii here, just text with numbers 42 and 7"
    assert out[4]["clean_text"] is None and out[4]["n_emails"] == 0


def test_pii_scrub_order_ip_before_phone(spark):
    # a dotted IP must become <IP>, not be half-eaten by the phone pattern
    df = spark.createDataFrame([(1, "ping 10.20.30.40 now")], "doc_id long, text string")
    row = pii_scrub(df).collect()[0]
    assert row["clean_text"] == "ping <IP> now"
    assert row["n_ips"] == 1 and row["n_phones"] == 0


def test_pii_scrub_composes_with_streams(spark, tmp_path):
    """pii_scrub is a stateless projection — the same operator call works
    under readStream unchanged (no aggregation, no watermark needed)."""
    import os

    ind, outd, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(ind)
    spark.createDataFrame(
        [(1, "mail jo@x.co now"), (2, "nothing here")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(ind + "/b0")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        ind + "/*"
    )
    q = (
        pii_scrub(stream)
        .writeStream.format("parquet")
        .option("path", outd)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(outd).collect()}
    assert got[1]["clean_text"] == "mail <EMAIL> now"
    assert got[1]["n_emails"] == 1 and got[1]["has_pii"] is True
    assert got[2]["has_pii"] is False


# ------------------------------------------------------------- C4 cleaning


def test_c4_line_filter_hand_case(spark):
    from ordinarydumpdeduplicator_spark.operators.line_dedup import (
        c4_line_filter,
    )

    docs = spark.createDataFrame(
        [
            # kept body + dropped banner/short/footer lines
            (1, "Enable JavaScript to continue\n"
                "the quick brown fox jumps over the lazy dog.\n"
                "too short.\n"
                "all rights reserved"),
            (2, "lorem ipsum dolor sit amet plenty of words here."),  # doc drop
            (3, "some code { body }\nthe quick brown fox jumps again."),  # doc drop
            (4, None),  # NULL text
            (5, "no terminal punctuation at all on this long line"),  # no keeps
            (6, 'He said "stop right there my good friend."\nSecond proper line here!'),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    assert (rows[1].n_lines, rows[1].n_kept, rows[1].doc_keep) == (4, 1, True)
    assert rows[1].clean_text == "the quick brown fox jumps over the lazy dog."
    assert not rows[2].doc_keep and rows[2].clean_text is None  # lorem ipsum
    assert not rows[3].doc_keep and rows[3].n_kept == 1  # '{' marker wins
    assert (rows[4].n_lines, rows[4].n_kept, rows[4].doc_keep,
            rows[4].clean_text) == (0, 0, False, None)
    assert not rows[5].doc_keep and rows[5].n_kept == 0
    assert rows[6].doc_keep and rows[6].n_kept == 2
    assert rows[6].clean_text.count("\n") == 1


def test_c4_line_filter_min_kept_lines_knob(spark):
    from ordinarydumpdeduplicator_spark.operators.line_dedup import (
        c4_line_filter,
    )

    docs = spark.createDataFrame(
        [(1, "only one proper sentence lives here.")],
        "doc_id long, text string",
    )
    assert c4_line_filter(docs).collect()[0].doc_keep
    assert not c4_line_filter(docs, min_kept_lines=5).collect()[0].doc_keep
