"""Spark integration: the extraction pipeline end-to-end on local[4].

Marked ``spark``; run with ``pytest -m spark`` or as part of the full suite.
"""

from __future__ import annotations

import glob
import os

import pytest

from htmlcleanup_spark.engine import clean_html
from htmlcleanup_spark.plans.extract import dedup_latest_by_url, run_extract
from htmlcleanup_spark.sources.pages import make_html, synth_pages

pytestmark = pytest.mark.spark

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


def test_fixture_pages_byte_identical_via_spark(spark, tmp_path):
    """The full Spark job reproduces the audited fixture outputs per url."""
    rows = []
    expected = {}
    for in_path in sorted(glob.glob(os.path.join(FIXTURE_DIR, "*", "*.in.html"))):
        rule_dir = os.path.basename(os.path.dirname(in_path))
        if rule_dir == "w6-split-enabled":
            continue
        url = "fixture://%s/%s" % (
            rule_dir, os.path.basename(in_path).split(".")[0],
        )
        with open(in_path, "rb") as f:
            rows.append((url, f.read()))
        with open(in_path.replace(".in.html", ".out.html")) as f:
            expected[url] = f.read()

    import datetime

    pages = spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, 1), h, None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "out")
    metrics = run_extract(spark, pages, output_path=out, num_partitions=4)
    assert metrics["docs_error"] == 0
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(out + "/data").select("url", "text").collect()
    }
    assert got == expected


def test_extract_matches_local_engine_on_synth(spark, tmp_path):
    """Spark pipeline output == pure-Python clean_html on the same bytes."""
    out = str(tmp_path / "out")
    pages = synth_pages(spark, 60, num_partitions=3, dup_every=0)
    run_extract(spark, pages, output_path=out, num_partitions=4)
    res = spark.read.parquet(out + "/data").select("url", "text").collect()
    # recompute locally for a sample
    for row in res[:10]:
        i = int(row["url"].rsplit("/", 1)[1])
        local = clean_html(make_html(i, 42))
        assert row["text"] == local.text, row["url"]


@pytest.mark.parametrize("parts", ["one", "default", "three_per_core"])
def test_extract_equivalent_across_partition_counts(spark, tmp_path, parts):
    """The cascade's partitioning changes no output: for one partition, the
    default (two per core) and three per core, every url's (text, error,
    bytes_in, bytes_out) equals the driver-side twin."""
    from htmlcleanup_spark.sources.pages import expected_extract_rows

    n = 60
    num_partitions = {
        "one": 1,
        "default": None,
        "three_per_core": 3 * spark.sparkContext.defaultParallelism,
    }[parts]
    out = str(tmp_path / "out")
    run_extract(spark, synth_pages(spark, n, num_partitions=2),
                output_path=out, num_partitions=num_partitions)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out + "/data")
        .select("url", "text", "error", "bytes_in", "bytes_out").collect()
    )
    assert got == expected_extract_rows(n)


def test_dedup_keeps_latest(spark):
    pages = synth_pages(spark, 50, dup_every=10, num_partitions=2)
    deduped = dedup_latest_by_url(pages)
    assert pages.count() == 50
    assert deduped.count() == 46  # 4 recrawled urls collapse
    from pyspark.sql import functions as F

    assert deduped.groupBy("url").count().filter("count > 1").count() == 0


def test_resume_skips_done(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = synth_pages(spark, 40, num_partitions=2).cache()
    m1 = run_extract(spark, pages, output_path=out, num_partitions=4)
    m2 = run_extract(spark, pages, output_path=out, num_partitions=4)
    assert m1["docs_out"] > 0
    assert m2["docs_out"] == 0  # everything already committed
    data = spark.read.parquet(out + "/data")
    assert data.groupBy("url").count().filter("count > 1").count() == 0
    pages.unpersist()


def test_slice_by_bytes_reads_sizes_from_offsets():
    """Slices keep row order, stay within the byte budget unless one row
    alone exceeds it, and count a null html as zero bytes."""
    import pyarrow as pa

    from htmlcleanup_spark.functions.udf import _slice_by_bytes

    html = [b"aaaa", None, b"bb", b"cccccc", b"", b"d" * 9]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(html))), pa.array(html, pa.binary())],
        names=["id", "html"],
    )
    slices = list(_slice_by_bytes(batch, 1, 6))
    assert [s.column(0).to_pylist() for s in slices] == [[0, 1, 2], [3, 4], [5]]


def test_error_column_routes_bad_docs(spark, tmp_path):
    import datetime

    pages = spark.createDataFrame(
        [
            ("ok", datetime.datetime(2024, 1, 1),
             b"<html><head><title>t</title></head><body><p>x</p></body></html>",
             None, "en"),
            ("bad", datetime.datetime(2024, 1, 1),
             b"<body></font><p>x</p></body>", None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "out")
    metrics = run_extract(spark, pages, output_path=out, num_partitions=2)
    assert metrics["docs_out"] == 2 and metrics["docs_error"] == 1
    rows = {r["url"]: r for r in spark.read.parquet(out + "/data").collect()}
    assert rows["ok"]["error"] is None and rows["ok"]["text"] is not None
    assert rows["bad"]["text"] is None and "UnparseableHtml" in rows["bad"]["error"]
    assert rows["ok"]["rules_fired"] is not None


def test_multimodal_stub_plumbing(spark):
    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.multimodal import extract_features

    df = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("payload"), F.col("id")), "utf-8").alias("payload"),
    )
    feats = extract_features(df).collect()
    assert len(feats) == 5
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[0]["n_bytes"] == len(b"payload0")
    assert all(r["width"] % 16 == 0 and r["height"] % 16 == 0 for r in feats)


def test_cli_main_smoke(spark, tmp_path):
    """The spark-submit entry path end-to-end: argparse -> _ship_package ->
    run_extract -> parquet sink.  (Round-1 gap: tests called run_extract
    directly and missed a missing import in main()'s path.)"""
    from htmlcleanup_spark.plans.extract import main

    src = str(tmp_path / "pages")
    synth_pages(spark, 12, num_partitions=2).write.parquet(src)
    out = str(tmp_path / "out")
    metrics = main(["--source", src, "--output-path", out,
                    "--partitions", "2"])
    assert metrics["docs_out"] == 12
    assert spark.read.parquet(out + "/data").count() == 12


def test_retry_errors_reattempts_failed_urls(spark, tmp_path):
    import datetime

    from htmlcleanup_spark.plans.extract import run_extract

    pages = spark.createDataFrame(
        [
            ("ok", datetime.datetime(2024, 1, 1),
             b"<html><head><title>t</title></head><body><p>x</p></body></html>",
             None, "en"),
            ("bad", datetime.datetime(2024, 1, 1),
             b"<body></font><p>x</p></body>", None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "out")
    m1 = run_extract(spark, pages, output_path=out, num_partitions=2)
    assert m1["docs_out"] == 2 and m1["docs_error"] == 1
    # default: errored urls stay done (a deterministic crash recurs)
    m2 = run_extract(spark, pages, output_path=out, num_partitions=2)
    assert m2["docs_out"] == 0
    # retry_errors: only the errored url is re-attempted
    m3 = run_extract(spark, pages, output_path=out, num_partitions=2,
                     retry_errors=True)
    assert m3["docs_out"] == 1 and m3["docs_error"] == 1


def test_merge_sql_shape():
    """The Iceberg MERGE branch can't execute here (no catalog jar without
    network); its generated SQL is pinned instead — upsert by url, full-row
    update/insert (reference sink shape, cleanup_msfp.py:300-302)."""
    from htmlcleanup_spark.plans.extract import merge_sql

    sql = merge_sql("cat.db.extracted")
    assert "MERGE INTO cat.db.extracted t" in sql
    assert "ON t.url = s.url" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
