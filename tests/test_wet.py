"""WET/WAT export: conversion- and metadata-record rendering."""

from __future__ import annotations

from pyspark.sql import functions as F


def _pages(spark):
    rows = [
        ("https://a.example/x", "2024-01-01 00:00:05", "hello\nworld."),
        ("https://b.example/y", "2024-02-03 04:05:06", "café text"),
        ("https://c.example/z", "2024-03-04 05:06:07", ""),
    ]
    return spark.createDataFrame(
        rows, "url string, ts string, text string"
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "text")


def test_wet_record_shape_and_octet_length(spark):
    from htmlcleanup_spark.sources.wet import to_wet_records

    out = {r.url: r for r in to_wet_records(_pages(spark)).collect()}
    rec = out["https://b.example/y"].record
    # Content-Length counts UTF-8 octets: 'café text' = 10 bytes
    assert "Content-Length: 10\r\n" in rec
    assert "WARC-Type: conversion\r\n" in rec
    assert "WARC-Date: 2024-02-03T04:05:06Z\r\n" in rec
    assert rec.endswith("café text\r\n\r\n")
    assert out["https://b.example/y"].record_bytes == len(
        rec.encode("utf-8")
    )
    assert "Content-Length: 0\r\n" in out["https://c.example/z"].record


def test_wat_record_framing_and_json(spark):
    import json

    from htmlcleanup_spark.sources.wet import to_wat_records

    df = spark.createDataFrame(
        [("http://a.example/x", "2024-03-05 06:07:08", "A Title",
          ["http://b.example/1", "http://c.example/2"])],
        "url string, ts string, title string, links array<string>",
    ).selectExpr("url", "CAST(ts AS TIMESTAMP) AS warc_ts", "title",
                 "links")
    r = to_wat_records(df).collect()[0]
    head, _, rest = r.record.partition("\r\n\r\n")
    body = rest[:-4]          # strip the record separator
    assert rest.endswith("\r\n\r\n")
    assert "WARC-Type: metadata" in head
    assert "Content-Type: application/json" in head
    assert "Content-Length: %d" % len(body.encode()) in head
    assert "WARC-Date: 2024-03-05T06:07:08Z" in head
    env = json.loads(body)["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == \
        "http://a.example/x"
    pm = env["Payload-Metadata"]["HTML-Metadata"]
    assert pm["Head"]["Title"] == "A Title"
    assert [d["url"] for d in pm["Links"]] == \
        ["http://b.example/1", "http://c.example/2"]
    assert r.record_bytes == len(r.record.encode())
