"""Contract of the per-document shell (functions/udf.doc_map): nulls, empty
batches, carried Arrow columns, DDL output types, the byte budget per
Python call, the one-row-per-anchor outlinks expansion, and the
once-per-worker import set-up (functions/udf.worker_once)."""

from __future__ import annotations

import datetime
import json
import sys
import zipfile

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from htmlcleanup_spark.functions.udf import _doc_kernel, doc_map, worker_once

OUT = to_arrow_schema(StructType([
    StructField("n", IntegerType()),
    StructField("m", MapType(StringType(), LongType())),
]))


def _length_and_map(s):
    return (None, None) if s is None else (len(s), [(s, len(s))])


def test_kernel_passes_nulls_and_types_outputs_from_schema():
    batch = pa.record_batch(
        [pa.array([1, 2, 3], pa.int64()), pa.array(["ab", None, "xyz"])],
        names=["id", "s"],
    )
    run = _doc_kernel(_length_and_map, ["s"], ["id"], OUT)
    (out,) = list(run(iter([batch])))
    assert out.schema.names == ["id", "n", "m"]
    assert out.schema.field("n").type == pa.int32()
    assert out.schema.field("m").type == pa.map_(pa.string(), pa.int64())
    # carried as the same Arrow buffer, not copied through Python
    assert (out.column(0).buffers()[1].address
            == batch.column(0).buffers()[1].address)
    assert out.column(1).to_pylist() == [2, None, 3]
    assert out.column(2).to_pylist() == [[("ab", 2)], None, [("xyz", 3)]]


def test_kernel_empty_batch_yields_nothing():
    empty = pa.record_batch(
        [pa.array([], pa.int64()), pa.array([], pa.string())],
        names=["id", "s"],
    )
    calls = []
    run = _doc_kernel(lambda s: calls.append(s), ["s"], ["id"], OUT)
    assert list(run(iter([empty]))) == []
    assert calls == []


def test_kernel_calls_fn_on_slices_within_the_byte_budget(monkeypatch):
    """A batch over the budget reaches fn in slices of at most
    MAX_CALL_BYTES of argument bytes; a row over the budget alone is a
    slice of its own.  The budget is scaled down (32 MB -> 32 bytes) so
    the batch stays small."""
    from htmlcleanup_spark.functions import udf

    monkeypatch.setattr(udf, "MAX_CALL_BYTES", 32)
    sizes = [10, 10, 10, 10, 40, 1]
    batch = pa.record_batch(
        [pa.array(range(len(sizes)), pa.int64()),
         pa.array([b"x" * n for n in sizes], pa.binary())],
        names=["id", "payload"],
    )
    out = to_arrow_schema(StructType([StructField("n", LongType())]))
    run = _doc_kernel(len, ["payload"], ["id"], out)
    seen = [b.column(1).to_pylist() for b in run(iter([batch]))]
    assert seen == [[10, 10, 10], [10], [40], [1]]
    assert all(len(s) == 1 or sum(s) <= 32 for s in seen)


@pytest.mark.spark
def test_doc_map_carries_timestamp_and_binary_unchanged(spark):
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
             bytearray(b"\x00\xffraw"), "abc"),
            (2, None, None, None),
        ],
        "id bigint, ts timestamp, raw binary, s string",
    )
    out = doc_map(
        df,
        lambda s, raw: (None if s is None else len(s), raw is None,
                        None if s is None else [s, s.upper()]),
        ["s", "raw"], "n int, raw_null boolean, arr array<string>",
        carry=["id", "ts", "raw"],
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("id", "bigint"), ("ts", "timestamp"), ("raw", "binary"),
        ("n", "int"), ("raw_null", "boolean"), ("arr", "array<string>"),
    ]
    got = sorted(out.collect())
    want = sorted(df.select("id", "ts", "raw").collect())
    assert [tuple(r)[:3] for r in got] == [tuple(r) for r in want]
    assert [tuple(r)[3:] for r in got] == [
        (3, False, ["abc", "ABC"]), (None, True, None)]
    assert doc_map(df.limit(0), len, ["s"], "n int", carry=["id"]).count() == 0
    with pytest.raises(ValueError, match="clash"):
        doc_map(df, len, ["s"], "id int", carry=["id"])


@pytest.mark.spark
def test_outlinks_keep_seq_order_through_inline(spark):
    from htmlcleanup_spark.operators.links import (
        extract_outlinks,
        host_of,
        outlinks_of,
    )

    pages = [
        (7, '<p><a href="/b">B</a> x <a href="http://o.example/">O</a>'
            '<a name="n">skip</a><a href="//c.example/p">C<b>!</b></a></p>',
         "https://h.example/a"),
        (3, "<p>no links</p>", "https://h.example/z"),
        (5, '<a href="/1">1</a><a href="/2">2</a>', "http://g.example/"),
    ]
    df = spark.createDataFrame(
        pages, "doc_id bigint, html string, base_url string").coalesce(1)
    got = [tuple(r) for r in extract_outlinks(df).collect()]
    want = [(doc, *link, host_of(base))
            for doc, html, base in pages for link in outlinks_of(html, base)]
    assert got == want
    assert [r[1] for r in got] == [0, 1, 2, 0, 1]


@pytest.mark.spark
def test_worker_once_freezes_only_spark_archives(spark, tmp_path):
    """After a doc_map task starts, the worker's importers over Spark's own
    archives keep their directory; an addPyFile zip keeps the stock
    importer; a pyspark module no stage loaded before still imports, under
    a frozen importer; and a pandas_udf stage after the mapInArrow stage
    returns the right rows."""
    from pyspark.sql import functions as F

    probe = tmp_path / "hc_worker_probe.zip"
    with zipfile.ZipFile(probe, "w") as z:
        z.writestr("hc_worker_probe.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(probe))

    def report(_):
        # in a worker, inside a doc_map task: the kinds of zip importers it
        # caches, split by whether the archive lies in Spark's install
        import os
        import zipimport

        import hc_worker_probe  # from the addPyFile zip
        import pyspark.ml.linalg as la  # not loaded by any other stage

        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        kinds = {"spark": set(), "user": set()}
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                owner = ("spark" if os.path.realpath(imp.archive).startswith(home)
                         else "user")
                kinds[owner].add(type(imp).__name__)
        return json.dumps({
            "spark": sorted(kinds["spark"]),
            "user": sorted(kinds["user"]),
            "ml_loader": type(la.__spec__.loader).__name__,
            "dot": la.DenseVector([1.0, 2.0]).dot([3.0, 4.0]),
            "probe": hc_worker_probe.VALUE,
        }, sort_keys=True)

    df = spark.range(0, 8, numPartitions=4).selectExpr("id", "'x' AS s")
    reports = {r.report for r in doc_map(
        df, report, ["s"], "report string").collect()}
    assert [json.loads(r) for r in reports] == [{
        "spark": ["_SparkArchiveImporter"],
        "user": ["zipimporter"],
        "ml_loader": "_SparkArchiveImporter",
        "dot": 11.0,
        "probe": 42,
    }]

    doubled = F.pandas_udf(lambda v: v * 2, "long")
    got = spark.range(0, 200, numPartitions=4).select(
        doubled("id").alias("d")).collect()
    assert sorted(r.d for r in got) == list(range(0, 400, 2))


def test_worker_once_is_a_no_op_in_the_driver():
    cache, hooks = dict(sys.path_importer_cache), list(sys.path_hooks)
    worker_once()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache == cache
