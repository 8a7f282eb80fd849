"""The ``pages`` table: schema, readers, and the deterministic synthesizer.

Input shape per the north rule (BASELINE.json:16):
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``
— a Common-Crawl-style corpus.  At design scale this is an Iceberg table
(``spark.table``); in this sandbox we synthesize it deterministically
(seeded, no external data) and read/write parquet.

The synthesizer mixes the FrontPage pathologies the reference was built for
(README.md:30-48) at a log-spread size profile (90% 0.5-4 KB, 9% 16-64 KB,
1% ~0.5 MB) so the skew handling in the extract job has real skew to defeat,
and emits duplicate urls at later warc_ts to exercise the dedup window.
"""

from __future__ import annotations

import datetime
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udf import worker_once

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

_EPOCH = datetime.datetime(2024, 1, 1)
_LANGS = ("en", "de", "nl", "fr")

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua".split()
)

# Building blocks exercising the cascade's rule families.
_JUNK_OPEN = '<!--mstheme--><font face="Book Antiqua">'
_JUNK_CLOSE = "<!--mstheme--></font>"


def _paragraph(rng: random.Random) -> str:
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 24)))
    style = rng.choice(
        (
            "",
            ' style="line-height: 100%%; mso-pagination: widow-orphan"',
            ' style="margin-top: 0; color: navy"',
            ' align="left"',
            ' class="MsoNormal"',
        )
    )
    inner = words
    roll = rng.random()
    if roll < 0.25:
        inner = "<b>%s</b>" % inner
    elif roll < 0.4:
        inner = '<font color="#996600">%s</font>' % inner
    elif roll < 0.5:
        inner = "<span>%s &nbsp; %s</span>" % (inner, rng.choice(_WORDS))
    return "<p%s>%s</p>" % (style, inner)


def _bullet_table(rng: random.Random) -> str:
    rows = "\n".join(
        '<tr><td><img src="img/rombul12.gif"></td><td>%s</td></tr>'
        % rng.choice(_WORDS)
        for _ in range(rng.randint(2, 5))
    )
    return "<table>\n%s\n</table>" % rows


def _single_cell_table(rng: random.Random) -> str:
    return (
        '<table border="0" width="600"><tr><td>%s</td></tr></table>'
        % _paragraph(rng)
    )


def make_html(i: int, seed: int = 42) -> bytes:
    """Deterministic pathological page #i (pure function of (i, seed))."""
    rng = random.Random((seed << 20) ^ i)
    # log-spread size profile (FIXTURES.md §1)
    r = rng.random()
    if r < 0.90:
        target = rng.randint(500, 4_000)
    elif r < 0.99:
        target = rng.randint(16_000, 64_000)
    else:
        target = rng.randint(256_000, 512_000)

    blocks = [_JUNK_OPEN, '<div align="center">\n  <center>', _JUNK_CLOSE]
    blocks.append(
        '<h2 style="line-height: 15.1 pt; mso-line-height-rule: exactly" '
        'align="left">%s\n\n%s</h2>' % (rng.choice(_WORDS), rng.choice(_WORDS))
    )
    size = sum(len(b) for b in blocks)
    while size < target:
        roll = rng.random()
        if roll < 0.8:
            b = _paragraph(rng)
        elif roll < 0.9:
            b = _bullet_table(rng)
        else:
            b = _single_cell_table(rng)
        blocks.append(b)
        size += len(b) + 1
    blocks.append(" <b><p> %s.</b></p>" % rng.choice(_WORDS))
    blocks.append("</center>\n</div>")
    html = (
        "<html>\n<head><title>p%d</title></head>\n"
        '<body bgcolor="#FFFFFF">\n%s\n</body>\n</html>\n'
        % (i, "\n".join(blocks))
    )
    return html.encode("utf-8")


def synth_rows(n: int, seed: int = 42, dup_every: int = 10):
    """n deterministic pages; every ``dup_every``-th row re-crawls an earlier
    url one day later with changed content, exercising the dedup window."""
    for i in range(n):
        yield _row_for(i, seed, dup_every)


def synth_pages(spark: SparkSession, n: int, seed: int = 42,
                dup_every: int = 10, num_partitions: int | None = None) -> DataFrame:
    """Synthesize the pages table distributed: generate on executors, not the
    driver (a range -> per-row generator keeps the driver O(1)).

    The rows come from an RDD map, not from the Python map shell
    (functions/udf.doc_map): a source here is the input of the extract,
    whose plan holds exactly one Python map, the cascade."""
    num_partitions = num_partitions or max(2, n // 2_000 or 2)

    def row(i):
        worker_once()
        return _row_for(i, seed, dup_every)

    rows = spark.sparkContext.range(0, n, numSlices=num_partitions).map(row)
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def _row_for(i: int, seed: int, dup_every: int):
    if dup_every and i % dup_every == dup_every - 1 and i >= dup_every:
        j = i - dup_every + 1
        return (
            "https://host%d.example/p/%d" % (j % 1000, j),
            _EPOCH + datetime.timedelta(seconds=j, days=1),
            make_html(j, seed + 1),
            None,
            _LANGS[i % len(_LANGS)],
        )
    return (
        "https://host%d.example/p/%d" % (i % 1000, i),
        _EPOCH + datetime.timedelta(seconds=i),
        make_html(i, seed),
        None,
        _LANGS[i % len(_LANGS)],
    )


def expected_extract_rows(n: int, seed: int = 42, dup_every: int = 10):
    """Driver-side twin of (synth_pages -> dedup_latest_by_url -> cascade):
    the byte-exact expected output rows (url, text, error, bytes_in,
    bytes_out), computed with the same pure engine the Arrow UDF runs.

    This is what makes the full Spark pipeline oracle-checkable: the
    engine itself is proven against the reference's 51 fixtures
    (tests/fixtures), and this function lets a SQL oracle assert that the
    DISTRIBUTED path (dedup window + skew repartition + cascade + column
    plumbing) maps every url to exactly the output the pure engine
    produces.  Dedup semantics match plans.extract.dedup_latest_by_url:
    newest warc_ts per url wins ((url, warc_ts) is unique by construction).
    """
    from ..engine.clean import clean_html
    from ..engine.rules import DEFAULT_RULES

    latest: dict = {}
    for url, ts, html, _text, _lang in synth_rows(n, seed, dup_every):
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, html)
    out = []
    for url in sorted(latest):
        res = clean_html(latest[url][1], DEFAULT_RULES)
        out.append((url, res.text, res.error, res.bytes_in, res.bytes_out))
    return out


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Load the pages table: an Iceberg/catalog table name or a parquet path."""
    if "/" not in source:
        return spark.table(source)
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def write_bucketed(df: DataFrame, table: str, path: str,
                   buckets: int = 64, key: str = "url") -> None:
    """Write ``df`` as an external parquet table bucketed (and sorted) by
    ``key``.

    Bucketing is the shuffle-elimination lever for the repeated url-keyed
    joins at 10^12 rows: when the pages table and the committed-output
    table are bucketed by url with the same bucket count, the resume
    anti-join (plans/extract.py) and the latest-crawl dedup read
    co-located buckets and the join plans with ZERO Exchange nodes
    (asserted by tests/test_plans.py::test_bucketed_join_has_no_exchange).
    Iceberg's equivalent is a bucket partition transform on url.
    """
    (
        df.write.format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )
