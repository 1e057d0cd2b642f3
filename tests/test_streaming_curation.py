"""Streaming ingest-curation: the wave-4/5 curation projections
(c4_line_filter, gopher_rules, canonical_url) are stateless Column
expressions, so the SAME call must run unchanged over a readStream and
produce the batch result — the front half of a continuously-ingesting
curation pipeline, with fingerprint dedup bounding state via the
watermark contract."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.dedup import fingerprint_col
from terra_bonobo_nodes_spark.llm.html import html_to_text
from terra_bonobo_nodes_spark.llm.scrub import c4_line_filter, line_dedup
from terra_bonobo_nodes_spark.llm.text import gopher_rules
from terra_bonobo_nodes_spark.llm.urls import canonical_url
from terra_bonobo_nodes_spark.streaming.ops import (
    dedup_within_watermark,
    line_dedup_stream,
)

GOOD_LINE = "The quick brown fox jumps over the lazy dog with that same old energy of course."
GOOD = "\n".join([GOOD_LINE] * 4)
# the same documents as markup: html_to_text must recover GOOD exactly
# (block <p> boundaries -> the newlines the raw fixture encodes)
GOOD_HTML = "<html><body>" + "".join(f"<p>{GOOD_LINE}</p>" for _ in range(4)) + "</body></html>"


def _write_batches(spark, path):
    rows = [
        # two batches; doc 1 duplicated across them (same text), doc 3
        # is chrome-heavy and must be dropped by the filters
        (1, GOOD, "https://www.a.com:443/x/?utm_source=f", "2024-01-01 00:00:00"),
        (2, GOOD + "\nIs this not a fine day for curation work, friends?", "https://a.com/x/", "2024-01-01 00:10:00"),
        (3, "enable javascript\n{ nav: 1 }\nshort.", "https://b.com/y", "2024-01-01 00:20:00"),
        (4, GOOD, "https://c.com/z", "2024-01-01 00:30:00"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, url string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.where("doc_id <= 2").coalesce(1).write.mode("overwrite").parquet(path)
    df.where("doc_id >= 3").coalesce(1).write.mode("append").parquet(path)
    return df


def _curate(df):
    out = gopher_rules(c4_line_filter(df), text_col="c4_text")
    out = out.where(F.col("c4_keep") & F.col("g_keep")).select(
        "doc_id",
        "ts",
        F.col("c4_text").alias("text"),
        canonical_url("url").alias("url_key"),
    )
    out = out.withColumn("fp", fingerprint_col(F.col("text")))
    return dedup_within_watermark(out, ["fp"], watermark="10 hours")


def test_stream_curation_matches_batch(spark, tmp_path):
    path = str(tmp_path / "docs")
    src = _write_batches(spark, path)

    batch = _curate(spark.read.parquet(path))
    stream = _curate(
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    assert stream.isStreaming

    name = f"cur_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"select * from {name}")

    batch_rows = sorted(
        (r["doc_id"], r["text"], r["url_key"]) for r in batch.collect()
    )
    got_rows = sorted((r["doc_id"], r["text"], r["url_key"]) for r in got.collect())
    # doc 3 filtered, and of the fingerprint-duplicates {1, 4} exactly
    # one survives (streaming keeps the first arrival, batch
    # dropDuplicates an arbitrary one — compare on the text multiset)
    assert [r[1] != "" for r in got_rows] == [True, True]
    assert sorted(r[1] for r in got_rows) == sorted(r[1] for r in batch_rows)
    assert {r[0] for r in got_rows} <= {1, 2, 4}
    # the canonicalizer collapsed the utm/www/port/trailing-slash
    # variants of docs 1 and 2 to one key
    keys = {r[2] for r in got_rows if r[0] in (1, 2)}
    assert keys == {"https://a.com/x"}


def test_html_front_end_streams_and_matches_raw_text(spark, tmp_path):
    """Step 0 prepended: the SAME curation chain fed HTML through
    html_to_text produces the raw-text result, batch AND streaming
    (html_to_text is a stateless projection, so the whole front half
    stays streaming-safe)."""
    rows = [
        (1, GOOD_HTML, "2024-01-01 00:00:00"),
        (2, "<script>nav()</script><p>enable javascript</p>", "2024-01-01 00:10:00"),
    ]
    src = spark.createDataFrame(
        rows, "doc_id long, html string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "htmldocs")
    src.coalesce(1).write.parquet(path)

    def chain(df):
        out = gopher_rules(
            c4_line_filter(df.withColumn("text", html_to_text("html"))),
            text_col="c4_text",
        )
        return out.select("doc_id", "c4_keep", "g_keep", "c4_text")

    batch = {r.doc_id: r for r in chain(spark.read.parquet(path)).collect()}
    assert batch[1].c4_keep and batch[1].c4_text == GOOD
    assert not batch[2].c4_keep  # chrome page: too few kept lines

    stream = chain(
        spark.readStream.schema(src.schema).parquet(path)
    )
    assert stream.isStreaming
    name = f"hf_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql(f"select * from {name}").collect()}
    assert {
        (k, v.c4_keep, v.g_keep, v.c4_text) for k, v in got.items()
    } == {(k, v.c4_keep, v.g_keep, v.c4_text) for k, v in batch.items()}


def _write_line_batches(spark, path):
    """Docs in doc_id order across micro-batch files (ordered backfill
    — the case where streaming first-arrival == batch first-occurrence)
    with a line duplicated ACROSS batches (nav), within a batch
    (footer), and within one document (inner repeat)."""
    rows = [
        (1, "nav bar\nalpha body\ninner repeat\ninner repeat", "2024-01-01 00:00:00"),
        (2, "nav bar\nbeta body\nfooter", "2024-01-01 00:10:00"),
        (3, "footer\ngamma body\nnav bar", "2024-01-01 00:20:00"),
        (4, "delta body\nnav bar\nfooter", "2024-01-01 00:30:00"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.where("doc_id <= 2").coalesce(1).write.mode("overwrite").parquet(path)
    df.where("doc_id >= 3").coalesce(1).write.mode("append").parquet(path)
    return df


def test_line_dedup_stream_matches_batch_on_ordered_backfill(spark, tmp_path):
    """The full CCNet chain's line stage runs over readStream: under
    (doc_id, pos)-ordered arrival the watermarked first-arrival dedup
    emits exactly the corpus-level first-occurrence set, line for line
    — including cross-batch, cross-doc-within-batch, and within-doc
    duplicates. (Out-of-order arrival diverges by design; the operator
    docstring states why exact CCNet semantics cannot be streamed.)"""
    path = str(tmp_path / "linedocs")
    src = _write_line_batches(spark, path)

    batch = line_dedup_stream(spark.read.parquet(path))
    stream = line_dedup_stream(
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        watermark="10 hours",
    )
    assert stream.isStreaming

    name = f"ld_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["line_pos"], r["line"])
        for r in spark.sql(f"select * from {name}").collect()
    )
    want = sorted(
        (r["doc_id"], r["line_pos"], r["line"]) for r in batch.collect()
    )
    assert got == want
    # and the batch face of the same call agrees with scrub.line_dedup
    # (the registered operator) on the kept multiset of lines
    ld = line_dedup(spark.read.parquet(path))
    kept_via_operator = sorted(
        line
        for r in ld.collect()
        for line in (r["ld_text"].split("\n") if r["ld_text"] else [])
    )
    assert sorted(r[2] for r in want) == kept_via_operator
    # each duplicated line survived exactly once, at its first occurrence
    lines = [r[2] for r in got]
    assert lines.count("nav bar") == 1 and lines.count("footer") == 1
    assert lines.count("inner repeat") == 1
    assert (1, 0, "nav bar") in got and (2, 2, "footer") in got


def test_sentence_signals_stream(spark, tmp_path):
    """The sentence surface holds the same batch==stream contract: it
    is a pure projection, so it runs unchanged over a readStream and
    reproduces the batch rows exactly."""
    from terra_bonobo_nodes_spark.llm.sentences import sentence_stats

    path = str(tmp_path / f"docs-{uuid.uuid4().hex}")
    batch = _write_batches(spark, path)

    def curate(df):
        return sentence_stats(df).select(
            "doc_id", "sent_n", "sent_n_terminated", "sent_mean_words",
            "sent_frac_short",
        )

    want = {tuple(r) for r in curate(batch).collect()}
    out_path = str(tmp_path / "out")
    q = (
        curate(spark.readStream.schema(batch.schema).parquet(path))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out_path).collect()}
    assert got == want


def test_readability_and_scrub_signals_stream(spark, tmp_path):
    """Second-continuation additions hold the batch==stream contract:
    readability is pure Column and the NFKC/pii scrub columns are
    stateless projections — all run unchanged over a readStream and
    reproduce the batch rows exactly."""
    from terra_bonobo_nodes_spark.llm.scrub import pii_redact
    from terra_bonobo_nodes_spark.llm.text import readability

    path = str(tmp_path / f"docs-{uuid.uuid4().hex}")
    batch = _write_batches(spark, path)

    def curate(df):
        return pii_redact(readability(df)).select(
            "doc_id", "r_n_words", "r_n_sentences", "r_n_syllables",
            "r_flesch_milli", "r_fk_grade_milli", "redacted",
        )

    want = {tuple(r) for r in curate(batch).collect()}
    out_path = str(tmp_path / "out-rd")
    q = (
        curate(spark.readStream.schema(batch.schema).parquet(path))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt-rd"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out_path).collect()}
    assert got == want
