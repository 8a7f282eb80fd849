"""Structured Streaming extract: availableNow drain over a file source."""

from __future__ import annotations

import pytest

from htmlcleanup_spark.sources.pages import make_html, synth_pages
from htmlcleanup_spark.streaming.extract_stream import run_extract_stream

pytestmark = pytest.mark.spark


def test_stateful_first_seen_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: a url seen in an earlier micro-batch is
    suppressed in later ones (true cross-batch state, exercised by
    maxFilesPerTrigger=1 splitting the backlog into several batches)."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.streaming.extract_stream import (
        dedup_stream_first_seen,
        stream_pages,
    )

    src = str(tmp_path / "pages")
    # file 1: urls 0..9 at their first-crawl timestamps
    synth_pages(spark, 10, num_partitions=1, dup_every=0).coalesce(
        1
    ).write.mode("append").parquet(src)
    # file 2: urls 5..14, every row one day later with different html
    synth_pages(spark, 15, seed=99, num_partitions=1, dup_every=0).filter(
        "cast(element_at(split(url, '/'), -1) as int) >= 5"
    ).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    ).coalesce(1).write.mode("append").parquet(src)

    deduped = dedup_stream_first_seen(
        stream_pages(spark, src, max_files_per_trigger=1)
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # the event-time TTL lets the availableNow query end by itself
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM first_seen")
    assert got.count() == 15  # urls 0..14, each exactly once
    assert got.select("url").distinct().count() == 15
    # urls 5..9 appeared in both files: the FIRST-seen (day-0) row wins
    early = got.filter(
        "cast(element_at(split(url, '/'), -1) as int) between 5 and 9"
    ).select(F.min("warc_ts").alias("mn"), F.max("warc_ts").alias("mx")).first()
    assert early.mx.day == early.mn.day == 1  # all day-0 rows, none day-1


def test_events_hourly_stream_matches_batch(spark, tmp_path):
    """The watermarked streaming rollup must agree with the batch
    aggregation over the same drained input (complete mode so every window
    is visible at stream end)."""
    from htmlcleanup_spark.streaming.extract_stream import (
        events_hourly_stream,
    )

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "events")  # file-stream sources need a directory
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        events_hourly_stream(stream)
        .writeStream.format("memory")
        .queryName("ev_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.hour), r.event_type): (r.n_events, float(r.sum_value))
        for r in spark.sql("SELECT * FROM ev_hourly").collect()
    }
    from pyspark.sql import functions as F

    expected = {
        (str(r.hour), r.event_type): (r.n_events, float(r.sum_value))
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    assert got == expected and len(got) > 10


def test_stream_drains_backlog_and_resumes(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synth_pages(spark, 30, num_partitions=2, dup_every=0).write.mode(
        "append"
    ).parquet(src)

    q = run_extract_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.filter("error is not null").count() == 0

    # new files arrive; restart from checkpoint processes only the delta
    # (urls 30..49 — disjoint from the first batch)
    synth_pages(spark, 50, num_partitions=2, dup_every=0).filter(
        "cast(element_at(split(url, '/'), -1) as int) >= 30"
    ).write.mode("append").parquet(src)
    q2 = run_extract_stream(spark, src, out, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(out).count()
    assert total > 30  # delta processed
    # no url processed twice with identical warc_ts (exactly-once per file)
    dups = (
        spark.read.parquet(out)
        .groupBy("url", "warc_ts")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0


def test_sessions_stream_matches_batch_rollup(spark, tmp_path):
    """Native session_window under Structured Streaming == the batch
    session_rollup over the same drained input (complete mode so every
    session is visible at stream end)."""
    from htmlcleanup_spark.operators.sessions import session_rollup
    from htmlcleanup_spark.streaming.extract_stream import sessions_stream

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev_sessions")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("ev_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r.user_id, r.session_start)  # noqa: E731
    got = {
        key(r): (r.session_end, r.n_events, float(r.sum_value))
        for r in spark.sql("SELECT * FROM ev_sessions").collect()
    }
    expected = {
        key(r): (r.session_end, r.n_events, float(r.sum_value))
        for r in session_rollup(batch).collect()
    }
    assert got == expected and len(got) > 20


def test_normalize_stream_matches_batch(spark, tmp_path):
    """The policy+normalization head produces identical rows batch vs
    stream over the same drained banded corpus."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.streaming.extract_stream import normalize_stream

    moji = " café — naïve".encode("utf-8").decode("cp1252")
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.lit('<head><meta name="robots" content="noindex"></head>'))
         .otherwise(F.lit("<head></head>")).alias("html"),
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(moji))
             .otherwise(F.lit(" ctl\x01here")),
        ).alias("text"),
    )
    src = str(tmp_path / "docs")
    banded.write.parquet(src)

    expected = {(r.doc_id, r.text)
                for r in normalize_stream(banded).collect()}

    stream = spark.readStream.schema(banded.schema).parquet(src)
    q = (
        normalize_stream(stream)
        .writeStream.format("memory")
        .queryName("norm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.text)
           for r in spark.sql("SELECT * FROM norm_stream").collect()}
    assert got == expected
    assert all(d % 7 != 0 for d, _ in got)    # noindex band filtered
    assert any("café" in t for _, t in got)   # mojibake band repaired


def test_cdx_latest_stream_matches_batch(spark, tmp_path):
    """The streaming latest-capture rollup equals the identical
    aggregate over the statically-read lines (multi-microbatch drain:
    one file per trigger), including the HLL digest-variety column."""
    import os

    from pyspark.sql import functions as F

    from htmlcleanup_spark.sources.cdx import parse_cdxj
    from htmlcleanup_spark.streaming.extract_stream import cdx_latest_stream

    src = str(tmp_path / "cdx_in")
    os.makedirs(src)
    line = ('com,ex)/p%(p)d 2024010%(t)d000000 {"url": "https://ex/p%(p)d", '
            '"mime": "text/html", "status": "%(s)s", "digest": "d%(d)d", '
            '"length": "100", "offset": "%(o)d", "filename": "f.warc.gz"}')
    for f in range(3):                       # 3 shard files -> 3 batches
        with open(os.path.join(src, "shard-%d.cdx" % f), "w") as fh:
            for p in range(6):
                fh.write(line % {"p": p, "t": f + 1, "d": (p + f) % 2,
                                 "s": "404" if (p + f) % 5 == 0 else "200",
                                 "o": f * 100 + p} + "\n")

    stream = (spark.readStream.option("maxFilesPerTrigger", 1)
              .text(src))
    q = (cdx_latest_stream(stream)
         .writeStream.format("memory").queryName("cdx_latest_s")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch_caps = parse_cdxj(spark.read.text(src)) \
        .filter(F.col("status") == 200)
    expected = {r.urlkey: r for r in batch_caps.groupBy("urlkey").agg(
        F.max("cdx_ts").alias("latest_ts"),
        F.expr("max_by(offset, cdx_ts)").alias("offset"),
        F.count("*").alias("n_captures"),
        F.approx_count_distinct("digest").alias("n_digests_approx"),
    ).collect()}
    got = {r.urlkey: r
           for r in spark.sql("SELECT * FROM cdx_latest_s").collect()}
    assert set(got) == set(expected) and len(got) == 6
    for k, e in expected.items():
        g = got[k]
        assert (g.latest_ts, g.offset, g.n_captures,
                g.n_digests_approx) == (
            e.latest_ts, e.offset, e.n_captures, e.n_digests_approx)


def test_capture_history_stream_matches_batch_open_events(spark, tmp_path):
    """The stateful streaming SCD-2 ledger emits exactly the batch
    twin's version-open rows (urlkey, version, valid_from, digest),
    with state carried across micro-batches (one file per trigger,
    captures for the same url split across files in ts order)."""
    import os

    from pyspark.sql import functions as F

    from htmlcleanup_spark.sources.cdx import capture_history
    from htmlcleanup_spark.streaming.extract_stream import (
        capture_history_stream,
    )

    src = str(tmp_path / "caps_in")
    os.makedirs(src)
    # u0..u4, 6 captures each, digest flips every 2 captures for even
    # urls / every 3 for odd; batch f holds capture round f (ts order
    # across files = arrival order)
    for f in range(6):
        path = os.path.join(src, "round-%d.csv" % f)
        with open(path, "w") as fh:
            for u in range(5):
                period = 2 if u % 2 == 0 else 3
                fh.write("u%d,%d,d%d\n" % (u, 100 + f, f // period))
        # the file source drains oldest-mtime first: pin strictly
        # increasing mtimes so micro-batch order IS capture order
        os.utime(path, (1700000000 + f * 10, 1700000000 + f * 10))

    schema = "urlkey string, ts long, digest string"
    stream = (spark.readStream.option("maxFilesPerTrigger", 1)
              .schema(schema).csv(src))
    q = (capture_history_stream(stream)
         .writeStream.format("memory").queryName("cap_hist_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = capture_history(
        spark.read.schema(schema).csv(src)
    ).select("urlkey", "version", "valid_from", "digest")
    expected = sorted(map(tuple, batch.collect()))
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM cap_hist_s").collect()))
    assert got == expected
    assert len(got) == 5 * 3 - 2   # even urls 3 versions, odd urls 2


def test_ingest_route_stream_matches_batch(spark, tmp_path):
    """The MIME-routing + RefinedWeb-repair ingest head produces
    identical rows batch vs stream over the same mixed-media corpus."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.streaming.extract_stream import (
        ingest_route_stream,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    did = F.col("doc_id")
    # three bands: PDF magic (routed away), html-ish text with a
    # counter line (kept + repaired), plain text (kept, untouched)
    payload = (
        F.when(did % 3 == 0, F.concat(
            F.lit(b"%PDF-"), F.encode(F.col("text"), "UTF-8")))
        .when(did % 3 == 1, F.encode(
            F.concat(F.lit("<!DOCTYPE html>ok line one.\n3 likes\n"),
                     F.col("text")), "UTF-8"))
        .otherwise(F.encode(F.col("text"), "UTF-8"))
    )
    docs = base.select("doc_id", payload.alias("payload"))
    src = str(tmp_path / "mixed")
    docs.write.parquet(src)

    expected = {(r.doc_id, r.clean_text, r.n_lines_removed)
                for r in ingest_route_stream(docs).collect()}
    assert expected, "batch twin produced no rows"
    assert all(d % 3 != 0 for d, _, _ in expected)   # PDFs routed away
    assert any(n > 0 for _, _, n in expected)        # repairs happened

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        ingest_route_stream(stream)
        .writeStream.format("memory")
        .queryName("route_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.clean_text, r.n_lines_removed)
           for r in spark.sql("SELECT * FROM route_stream").collect()}
    assert got == expected
