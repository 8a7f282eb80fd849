"""WARC ingestion: Common-Crawl archive files -> the pages table.

The reference consumes a saved .html file per run (cleanup_msfp.py:35-44);
at corpus scale the upstream is WARC (ISO 28500), so this source turns a
directory of ``.warc`` files into the north-rule pages shape
(url, warc_ts, html, text=NULL, lang=NULL).

Scale design: ``spark.read.format("binaryFile")`` gives one row per file
(content as bytes); parsing fans out per file via mapInPandas, so a
thousand-executor cluster ingests a thousand WARCs concurrently —
parallelism is file-count, which is how Common Crawl ships (1 GB segment
files).  The parser is a self-contained implementation of the public
WARC/1.0 record grammar (version line, CRLF-separated headers, blank line,
Content-Length octets, CRLF CRLF separator); only ``response`` records are
emitted, with the HTTP envelope stripped.

Task-memory bound: a 1 GB .warc.gz segment decompresses to ~4-5 GB; with
several concurrent tasks per executor, materializing that (plus all its
records in one pandas frame) is the first OOM at real scale.  So the
decompressor walks the stream's gzip members INCREMENTALLY (zlib
decompressobj; .warc.gz is a concatenation of per-record members), the
record scanner consumes a rolling buffer that is trimmed as records
complete, and records are yielded in batches capped at ``max_batch_bytes``
of html.  Peak task memory is then ~(compressed file + one batch + the
largest single record), independent of the decompressed file size.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
import zlib
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..functions.udf import worker_once

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_CRLF = b"\r\n"

# incremental-scan outcomes
_NEED_MORE = "need_more"   # incomplete record: wait for more stream data
_STOP = "stop"             # terminal garbage / truncation: end the scan


def _scan_one(buf: bytes, pos: int, final: bool,
              types: frozenset = frozenset((b"response",))):
    """Scan one record at ``pos``; returns (record_or_None, new_pos, status).

    status: "ok" (record consumed; record is None for non-response types),
    _NEED_MORE (record extends past the buffer — caller appends data and
    retries), or _STOP (garbage / truncated tail — scan ends, matching the
    reference behavior that a truncated final record must not poison the
    whole file).
    """
    n = len(buf)
    # skip inter-record CRLFs
    while buf.startswith(_CRLF, pos):
        pos += 2
    if pos >= n or (n - pos < 5 and not final):
        return None, pos, (_STOP if final else _NEED_MORE)
    if not buf.startswith(b"WARC/", pos):
        # enough bytes to rule the magic out (or stream end): garbage
        if n - pos >= 5 or final:
            return None, pos, _STOP
        return None, pos, _NEED_MORE
    hdr_end = buf.find(_CRLF + _CRLF, pos)
    if hdr_end == -1:
        return None, pos, (_STOP if final else _NEED_MORE)
    headers = {}
    lines = buf[pos:hdr_end].split(_CRLF)
    for line in lines[1:]:  # lines[0] is the WARC/1.x version line
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower()] = v.strip()
    try:
        length = int(headers.get(b"content-length", b""))
    except ValueError:
        return None, pos, _STOP
    block_start = hdr_end + 4
    if block_start + length > n:
        return None, pos, (_STOP if final else _NEED_MORE)
    block = buf[block_start : block_start + length]
    new_pos = block_start + length
    if headers.get(b"warc-type") not in types:
        return None, new_pos, "ok"
    url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
    ts = headers.get(b"warc-date", b"").decode("ascii", "replace")
    # strip the HTTP response envelope if present
    if block[:5] == b"HTTP/":
        http_end = block.find(_CRLF + _CRLF)
        html = block[http_end + 4 :] if http_end != -1 else b""
    else:
        html = block
    return {"url": url, "warc_ts": ts, "html": html}, new_pos, "ok"


def iter_warc_records(chunks: Iterable[bytes],
                      record_types: Iterable[str] = ("response",)
                      ) -> Iterator[dict]:
    """Yield {url, warc_ts, html} per WARC *response* record across a
    stream of byte chunks, holding only the unconsumed tail in memory.

    Malformed trailing garbage ends the scan rather than raising: a
    truncated tail record in a crawl segment must not poison the file.
    """
    types = frozenset(t.encode("ascii") for t in record_types)
    buf = b""
    it = iter(chunks)
    final = False
    while True:
        rec, pos, status = _scan_one(buf, 0, final, types)
        if status == "ok":
            buf = buf[pos:]  # trim consumed prefix: the rolling buffer
            if rec is not None:
                yield rec
            continue
        if status == _STOP or final:
            return
        nxt = next(it, None)
        if nxt is None:
            final = True
        else:
            buf += nxt


def parse_warc_records(data: bytes,
                       record_types: Iterable[str] = ("response",)
                       ) -> Iterator[dict]:
    """Whole-bytes convenience wrapper over :func:`iter_warc_records`
    (pure function over bytes; unit-testable without Spark)."""
    return iter_warc_records((data,), record_types)


def _iter_decompressed(content: bytes,
                       chunk_bytes: int = 4 << 20) -> Iterator[bytes]:
    """Decompressed chunks of ``content`` without materializing the whole
    stream: gzip members (.warc.gz = one member per record) are walked with
    a zlib decompressobj, restarted at each member boundary via
    unused_data.  Plain (non-gzip) content is yielded as-is (binaryFile
    already holds it in memory)."""
    if content[:2] != b"\x1f\x8b":
        yield content
        return
    view = memoryview(content)
    n = len(content)
    pos = 0
    d = zlib.decompressobj(wbits=31)
    while pos < n:
        piece = bytes(view[pos : pos + chunk_bytes])
        pos += len(piece)
        while piece:
            try:
                out = d.decompress(piece)
            except zlib.error:
                return  # corrupt member: end the stream, keep the prefix
            if out:
                yield out
            if not d.eof:
                break  # member continues in the next compressed chunk
            # member boundary: restart the decompressor on the leftover
            piece = d.unused_data
            d = zlib.decompressobj(wbits=31)
            if piece and len(piece) >= 2 and piece[:2] != b"\x1f\x8b":
                return  # trailing non-gzip garbage after the last member
            # (a 1-byte leftover may be a member magic split across
            # chunks — the new decompressobj buffers it and waits)


def iter_warc_batches(content: bytes,
                      max_batch_bytes: int = 64 << 20,
                      record_types: Iterable[str] = ("response",)
                      ) -> Iterator[list]:
    """Record batches [(url, ts, html), ...] from one WARC file's bytes,
    each batch holding at most ``max_batch_bytes`` of html (at least one
    record per batch, so a single oversized record still flows)."""
    batch: list = []
    acc = 0
    for rec in iter_warc_records(_iter_decompressed(content),
                                 record_types):
        if batch and acc + len(rec["html"]) > max_batch_bytes:
            yield batch
            batch, acc = [], 0
        batch.append((rec["url"], rec["warc_ts"], rec["html"]))
        acc += len(rec["html"])
    if batch:
        yield batch


def read_warc(spark: SparkSession, path: str,
              path_glob: str = "*.warc*",
              max_batch_bytes: int = 64 << 20,
              record_types: tuple = ("response",)) -> DataFrame:
    """Read a directory of .warc / .warc.gz files as the pages table."""
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("content")
    )

    def parse(batches):
        worker_once()
        for pdf in batches:
            for content in pdf["content"]:
                for batch in iter_warc_batches(bytes(content),
                                               max_batch_bytes,
                                               record_types):
                    yield pd.DataFrame(
                        [(u, t, h, None, None) for u, t, h in batch],
                        columns=["url", "_ts", "html", "text", "lang"],
                    )

    raw = files.mapInPandas(
        parse, "url string, _ts string, html binary, text string, lang string"
    )
    from pyspark.sql import functions as F

    # WARC-Date is ISO-8601 Zulu (e.g. 2024-01-01T00:00:00Z)
    return raw.select(
        "url",
        F.to_timestamp("_ts").alias("warc_ts"),
        "html",
        "text",
        "lang",
    )


def write_synth_warc(path: str, n_docs: int, seed: int = 42,
                     compress: bool = False) -> None:
    """Deterministic tiny WARC file for tests (synth pages re-packaged)."""
    from .pages import make_html

    chunks = []
    for i in range(n_docs):
        html = make_html(i, seed)
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        hdr = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: https://host%d.example/p/%d\r\n"
            % (i % 1000, i)
            + b"WARC-Date: 2024-01-01T00:00:%02dZ\r\n" % (i % 60)
            + b"Content-Length: %d\r\n" % len(http)
        )
        chunks.append(hdr + b"\r\n" + http + b"\r\n\r\n")
    # one warcinfo record up front (skipped by the parser)
    info = b"software: synth\r\n"
    head = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Length: %d\r\n\r\n" % len(info) + info + b"\r\n\r\n"
    )
    data = head + b"".join(chunks)
    if compress:
        buf = io.BytesIO()
        # per-record gzip members, as Common Crawl ships them
        for part in [head] + chunks:
            buf.write(gzip.compress(part))
        data = buf.getvalue()
    with open(path, "wb") as f:
        f.write(data)


def revisit_dedup(captures, key_col="urlkey", ts_col="ts",
                  digest_col="digest", length_col="length"):
    """WARC revisit-record planning — the archive-side storage dedup of
    ISO 28500 §6.7.2 / WARC 1.1 "identical-payload-digest" profile: the
    FIRST capture of each payload digest is stored as a full
    ``response`` record; every later capture of the same digest becomes
    a ``revisit`` record that points at the original (WARC-Refers-To),
    storing headers only.

    Returns the capture log annotated: (urlkey, ts, digest, warc_type,
    refers_to_urlkey, refers_to_ts, saved_bytes) — ``refers_to_*`` NULL
    on originals, ``saved_bytes`` the payload length a revisit avoids
    re-storing (0 for originals).

    Scale shape (10^11 captures): originals = ONE digest-keyed
    map-combined ``min_by`` aggregate ((ts, urlkey) struct min — total
    order, deterministic under capture-time ties); the annotate is ONE
    digest-keyed equi join back — both sides hash-partition on digest,
    and the originals side is |distinct digests| rows (≤ captures).
    No window: a viral payload (the same 404 page captured 10^7 times)
    is one agg group with a 1-row result, and its join fan-out is
    output-sized.  Column-only compare — page bytes never move.
    """
    from pyspark.sql import functions as F

    originals = (
        captures.groupBy(F.col(digest_col).alias("_d"))
        .agg(
            F.min(
                F.struct(
                    F.col(ts_col).alias("ts"),
                    F.col(key_col).alias("urlkey"),
                )
            ).alias("_o")
        )
        .select(
            "_d",
            F.col("_o.urlkey").alias("_o_urlkey"),
            F.col("_o.ts").alias("_o_ts"),
        )
    )
    j = captures.join(
        originals, captures[digest_col] == originals["_d"]
    )
    is_orig = (F.col(key_col) == F.col("_o_urlkey")) & (
        F.col(ts_col) == F.col("_o_ts")
    )
    return j.select(
        F.col(key_col).alias("urlkey"),
        F.col(ts_col).alias("ts"),
        F.col(digest_col).alias("digest"),
        F.when(is_orig, F.lit("response"))
        .otherwise(F.lit("revisit")).alias("warc_type"),
        F.when(is_orig, F.lit(None).cast("string"))
        .otherwise(F.col("_o_urlkey")).alias("refers_to_urlkey"),
        F.when(is_orig, F.lit(None).cast("long"))
        .otherwise(F.col("_o_ts")).alias("refers_to_ts"),
        F.when(is_orig, F.lit(0).cast("long"))
        .otherwise(F.col(length_col).cast("long")).alias("saved_bytes"),
    )


_HTTP_STATUS = re.compile(rb"HTTP/1\.[01] (\d{3})")
_HTTP_CTYPE = re.compile(rb"Content-Type:\s*([^\r\n;]+)", re.IGNORECASE)


def _http_meta(record: bytes):
    """(status, mime) from a record's HTTP response envelope — the
    Content-Type is searched AFTER the status line so the WARC block's
    own Content-Type header can never shadow the payload's."""
    m = _HTTP_STATUS.search(record)
    if not m:
        return None, None
    mime = None
    mm = _HTTP_CTYPE.search(record, m.start())
    if mm:
        mime = mm.group(1).decode("ascii", "replace").strip().lower()
    return int(m.group(1)), mime


def _capture(rec: dict, record_bytes: bytes, offset: int, length: int,
             filename: str):
    status, mime = _http_meta(record_bytes)
    ts14 = re.sub(r"[^0-9]", "", rec["warc_ts"])[:14]
    digest = hashlib.md5(rec["html"]).hexdigest()
    return (rec["url"], ts14, mime, status, digest,
            int(length), int(offset), filename)


def iter_warc_captures(content: bytes, filename: str = "",
                       record_types: Iterable[str] = ("response",),
                       chunk_bytes: int = 1 << 20) -> Iterator[tuple]:
    """CDX capture tuples (url, ts14, mime, status, digest, length,
    offset, filename) with REAL warc coordinates — the generation side
    of the CDX loop (read_cdx/fetch planning is the consumption side).

    Coordinate semantics follow how each layout is fetched:
    - ``.warc.gz`` (member-per-record, as Common Crawl ships): offset/
      length are the COMPRESSED gzip-member span — exactly the byte
      range a ranged GET + gunzip needs (CC's own CDX convention).
    - plain ``.warc``: the record's uncompressed span (header through
      content block, exclusive of the inter-record CRLFCRLF).

    ``digest`` is the md5 hex of the PAYLOAD (HTTP envelope stripped) —
    the repo-wide digest convention, standing in for the spec's
    SHA1-B32 (no behavioral difference for dedup/revisit joins, which
    only test equality).  Record parsing reuses :func:`_scan_one`; the
    gzip walk feeds bounded chunks to a per-member decompressobj, so
    memory is O(member), never O(file).
    """
    types = frozenset(t.encode("ascii") for t in record_types)
    if content[:2] == b"\x1f\x8b":
        view = memoryview(content)
        n = len(content)
        pos = 0                 # next unread compressed byte
        member_start = 0
        pending = b""           # compressed leftover from the last member
        data = b""              # current member, decompressed
        d = zlib.decompressobj(wbits=31)
        while True:
            if pending:
                piece, pending = pending, b""
            elif pos < n:
                piece = bytes(view[pos:pos + chunk_bytes])
                pos += len(piece)
            else:
                break
            try:
                data += d.decompress(piece)
            except zlib.error:
                break           # corrupt member: keep the prefix
            if not d.eof:
                continue
            pending = d.unused_data
            member_end = pos - len(pending)
            rec, _, status = _scan_one(data, 0, True, types)
            if status == "ok" and rec is not None:
                yield _capture(rec, data, member_start,
                               member_end - member_start, filename)
            member_start = member_end
            data = b""
            d = zlib.decompressobj(wbits=31)
            if (len(pending) >= 2
                    and pending[:2] != b"\x1f\x8b"):
                break           # trailing non-gzip garbage
        return
    n = len(content)
    pos = 0
    while pos < n:
        start = pos
        while content.startswith(_CRLF, start):
            start += 2
        rec, new_pos, status = _scan_one(content, start, True, types)
        if status != "ok":
            break
        if rec is not None:
            yield _capture(rec, content[start:new_pos], start,
                           new_pos - start, filename)
        pos = new_pos


def warc_to_cdx(spark: SparkSession, path: str,
                path_glob: str = "*.warc*") -> DataFrame:
    """Generate CDX capture rows from a directory of WARC segments —
    the index-build job that runs after a crawl lands (its output feeds
    to_cdxj_lines -> index_merge -> cluster_idx, closing the
    WARC -> CDX -> ranged-fetch loop end to end).

    Scale shape: binaryFile gives one task per segment, the capture
    walk streams each file once (O(member) memory), urlkey is the
    shared :func:`surt_key` JVM expression — ZERO shuffles; the
    downstream index sort/merge owns the ordering cost."""
    import pandas as pd

    from .cdx import surt_key

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("path", "content")
    )

    def gen(batches):
        worker_once()
        cols = ["url", "cdx_ts", "mime", "status", "digest",
                "length", "offset", "filename"]
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                fname = str(p).rsplit("/", 1)[-1]
                rows = list(iter_warc_captures(bytes(content), fname))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    raw = files.mapInPandas(
        gen,
        "url string, cdx_ts string, mime string, status int, "
        "digest string, length bigint, offset bigint, filename string",
    )
    return raw.select(
        surt_key("url").alias("urlkey"), "cdx_ts", "url", "mime",
        "status", "digest", "length", "offset", "filename",
    )
