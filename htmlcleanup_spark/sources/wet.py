"""WET export: extracted text -> WARC ``conversion`` records.

Common Crawl publishes extracted text as WET files — WARC containers
whose records are ``WARC-Type: conversion`` with a plain-text block
(ISO 28500 §6.8).  This module renders the extraction pipeline's output
in that interchange shape, one record string per row.

Scale shape: record rendering is pure JVM string concat (whole-stage
codegen, zero Python, zero shuffle — the narrow map rides whatever
partitioning the extraction left); Spark's text sink with per-partition
gzip then writes one compressed segment per partition, the way Common
Crawl ships them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["to_wet_records", "to_wat_records"]

_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def to_wet_records(df: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts",
                   text_col: str = "text") -> DataFrame:
    """Render (url, warc_ts, text) rows as WARC/1.0 conversion records.

    Returns (url, record, record_bytes): ``record`` is the full record
    string — version line, CRLF headers (WARC-Type / WARC-Target-URI /
    WARC-Date in ISO-8601 Zulu / Content-Type / Content-Length counting
    UTF-8 OCTETS of the text block, per ISO 28500), blank line, block,
    and the closing CRLF CRLF record separator; ``record_bytes`` is its
    total UTF-8 size (what the record occupies on disk), for segment
    budgeting."""
    rec = F.concat(
        F.lit("WARC/1.0\r\n"
              "WARC-Type: conversion\r\n"
              "WARC-Target-URI: "),
        F.col(url_col),
        F.lit("\r\nWARC-Date: "),
        F.date_format(F.col(ts_col), _DATE_FMT),
        F.lit("\r\nContent-Type: text/plain\r\n"
              "Content-Length: "),
        F.octet_length(F.col(text_col)).cast("string"),
        F.lit("\r\n\r\n"),
        F.col(text_col),
        F.lit("\r\n\r\n"),
    )
    return df.select(
        F.col(url_col).alias("url"),
        rec.alias("record"),
        F.octet_length(rec).cast("long").alias("record_bytes"),
    )


def to_wat_records(df: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts", title_col: str = "title",
                   links_col: str = "links") -> DataFrame:
    """Render page metadata as WAT records — Common Crawl's third
    artifact beside WARC (raw) and WET (text): ``WARC-Type: metadata``
    with an ``application/json`` block describing the capture envelope
    and the extracted HTML head/links.

    Expects (url, warc_ts, title, links: array<string>) — title from
    operators/content.page_metadata, links from
    operators/links.extract_outlinks rolled up per page.  Returns
    (url, record, record_bytes) like :func:`to_wet_records`.

    The JSON mirrors the WAT envelope shape
    (Envelope.WARC-Header-Metadata + Envelope.Payload-Metadata.
    HTML-Metadata.{Head.Title, Links[].url}) via ``to_json`` over a
    nested struct — key ORDER is struct-field order, so the payload is
    byte-deterministic and oracle-checkable.  Pure JVM string work,
    zero shuffle, same per-partition gzip text sink as WET.
    """
    meta = F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.col(url_col).alias("WARC-Target-URI"),
                    F.date_format(F.col(ts_col), _DATE_FMT)
                    .alias("WARC-Date"),
                ).alias("WARC-Header-Metadata"),
                F.struct(
                    F.struct(
                        F.struct(
                            F.col(title_col).alias("Title")
                        ).alias("Head"),
                        F.transform(
                            F.col(links_col),
                            lambda u: F.struct(u.alias("url")),
                        ).alias("Links"),
                    ).alias("HTML-Metadata")
                ).alias("Payload-Metadata"),
            ).alias("Envelope")
        )
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\n"
              "WARC-Type: metadata\r\n"
              "WARC-Target-URI: "),
        F.col(url_col),
        F.lit("\r\nWARC-Date: "),
        F.date_format(F.col(ts_col), _DATE_FMT),
        F.lit("\r\nContent-Type: application/json\r\n"
              "Content-Length: "),
        F.octet_length(meta).cast("string"),
        F.lit("\r\n\r\n"),
        meta,
        F.lit("\r\n\r\n"),
    )
    return df.select(
        F.col(url_col).alias("url"),
        rec.alias("record"),
        F.octet_length(rec).cast("long").alias("record_bytes"),
    )
