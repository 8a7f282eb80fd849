"""CDX(J) crawl-index source: SURT keys, CDXJ parsing, latest-capture
collapse, fetch planning, index merge and the cluster index."""

from __future__ import annotations

from pyspark.sql import functions as F


def _surt(spark, urls):
    from htmlcleanup_spark.sources.cdx import surt_key

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.k for r in df.select(surt_key("url").alias("k")).collect()]


def test_surt_key_canonicalization(spark):
    got = _surt(spark, [
        "https://www.Example.COM/Path/To?Q=1",
        "http://sub.host.example.org:8080/a",
        "https://example.com",
        "HTTPS://WWW.example.com/c#Fragment",
        "example.com/d",                       # scheme-less
        "http://www.example.com/",             # explicit root
    ])
    assert got == [
        "com,example)/path/to?q=1",
        "org,example,host,sub:8080)/a",
        "com,example)/",
        "com,example)/c",
        "com,example)/d",
        "com,example)/",
    ]


def test_surt_keys_are_host_sorted_neighbors(spark):
    # the point of SURT: a host and its subdomains are lexicographic
    # neighbors, so a sorted index answers host-range queries
    keys = sorted(_surt(spark, [
        "https://a.example.com/1",
        "https://zz.other.net/1",
        "https://b.example.com/1",
        "https://example.com/1",
    ]))
    assert keys[:3] == [
        "com,example)/1",
        "com,example,a)/1",
        "com,example,b)/1",
    ]


_LINE = (
    'com,example)/p 20240102030405 {"url": "https://example.com/p", '
    '"mime": "text/html", "status": "200", "digest": "sha1:AAAA", '
    '"length": "1234", "offset": "98765", "filename": "seg-0.warc.gz"}'
)


def test_parse_cdxj_typed_fields(spark):
    from htmlcleanup_spark.sources.cdx import parse_cdxj

    row = parse_cdxj(
        spark.createDataFrame([(_LINE,)], "value string")
    ).collect()[0]
    assert row.urlkey == "com,example)/p"
    assert row.cdx_ts == "20240102030405"
    assert row.url == "https://example.com/p"
    assert row.status == 200 and isinstance(row.status, int)
    assert row.offset == 98765 and row.length == 1234
    assert row.filename == "seg-0.warc.gz"


def test_parse_cdxj_malformed_json_survives_as_nulls(spark):
    from htmlcleanup_spark.sources.cdx import parse_cdxj

    rows = parse_cdxj(spark.createDataFrame(
        [(_LINE,), ("com,bad)/x 20240101000000 {not json",)],
        "value string",
    )).collect()
    bad = [r for r in rows if r.urlkey == "com,bad)/x"][0]
    assert bad.cdx_ts == "20240101000000"
    assert bad.url is None and bad.status is None and bad.offset is None


def _captures(spark):
    # one urlkey, three captures (one 404); a second key with one capture
    rows = [
        ("k1", "20240101000000", "u1", 200, "d1", 10, 0, "f0"),
        ("k1", "20240301000000", "u1", 200, "d2", 11, 100, "f1"),
        ("k1", "20240201000000", "u1", 404, "d9", 12, 200, "f2"),
        ("k2", "20240105000000", "u2", 200, "d1", 13, 300, "f3"),
    ]
    return spark.createDataFrame(
        rows,
        "urlkey string, cdx_ts string, url string, status int, "
        "digest string, length long, offset long, filename string",
    ).withColumn("mime", F.lit("text/html"))


def test_latest_captures_collapse(spark):
    from htmlcleanup_spark.sources.cdx import latest_captures

    out = {r.urlkey: r for r in latest_captures(_captures(spark)).collect()}
    k1 = out["k1"]
    # ok_only drops the 404 BEFORE aggregation: latest is the March 200
    assert k1.latest_ts == "20240301000000"
    assert (k1.digest, k1.filename, k1.offset) == ("d2", "f1", 100)
    assert k1.n_captures == 2 and k1.n_digests == 2
    assert out["k2"].n_captures == 1

    with_404 = {r.urlkey: r
                for r in latest_captures(_captures(spark),
                                         ok_only=False).collect()}
    assert with_404["k1"].n_captures == 3


def test_fetch_plan_greedy_fill_and_gap_bytes(spark):
    from htmlcleanup_spark.sources.cdx import fetch_plan

    # one file: records of 600 bytes at offsets 0,1000,2000,3000 with
    # batch size 1000 -> exclusive prefix sums 0,600,1200,1800 ->
    # batches 0,0,1,1; a second file must batch independently
    rows = [("f1", 0, 600), ("f1", 1000, 600),
            ("f1", 2000, 600), ("f1", 3000, 600),
            ("f2", 500, 100)]
    df = spark.createDataFrame(
        rows, "filename string, offset long, length long")
    out = {(r.filename, r.batch_id): r
           for r in fetch_plan(df, max_batch_bytes=1000).collect()}
    b0 = out[("f1", 0)]
    assert b0.n_records == 2 and b0.payload_bytes == 1200
    assert (b0.read_start, b0.read_end) == (0, 1600)
    assert b0.gap_bytes == 400          # the 600..1000 hole
    b1 = out[("f1", 1)]
    assert (b1.read_start, b1.read_end) == (2000, 3600)
    assert out[("f2", 0)].n_records == 1
    assert out[("f2", 0)].gap_bytes == 0


def test_fetch_plan_record_spanning_boundary_stays_whole(spark):
    from htmlcleanup_spark.sources.cdx import fetch_plan

    # second record's bytes cross the 1000 boundary (prefix 900) but it
    # belongs wholly to batch 0; the third (prefix 1700) starts batch 1
    rows = [("f", 0, 900), ("f", 900, 800), ("f", 1700, 100)]
    df = spark.createDataFrame(
        rows, "filename string, offset long, length long")
    out = sorted(fetch_plan(df, max_batch_bytes=1000).collect(),
                 key=lambda r: r.batch_id)
    assert [(r.batch_id, r.n_records) for r in out] == [(0, 2), (1, 1)]


def test_merge_capture_indexes_newer_wins_counts_add(spark):
    from htmlcleanup_spark.sources.cdx import (latest_captures,
                                               merge_capture_indexes)

    old = latest_captures(_captures(spark))            # k1, k2
    newer = latest_captures(spark.createDataFrame(
        [("k1", "20250101000000", "u1", 200, "d3", 20, 400, "f9"),
         ("k3", "20250101000000", "u3", 200, "dX", 21, 500, "f9")],
        "urlkey string, cdx_ts string, url string, status int, "
        "digest string, length long, offset long, filename string",
    ).withColumn("mime", F.lit("text/html")))
    out = {r.urlkey: r
           for r in merge_capture_indexes(old, newer).collect()}
    k1 = out["k1"]
    # 2025 capture wins coordinates; captures add (2 old + 1 new)
    assert k1.latest_ts == "20250101000000"
    assert (k1.digest, k1.filename, k1.offset) == ("d3", "f9", 400)
    assert k1.n_captures == 3
    assert k1.n_digests_ub == 3          # 2 old + 1 new (upper bound)
    assert out["k2"].n_captures == 1     # old-only key survives
    assert out["k3"].n_captures == 1     # new-only key appears


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_plan_single_exchange_reused_by_rollup(spark):
    """The per-file window's hashpartitioning(filename) must satisfy the
    (filename, batch_id) groupBy too — ONE exchange total, no second
    shuffle for the batch rollup."""
    from htmlcleanup_spark.sources.cdx import fetch_plan

    caps = spark.createDataFrame(
        [("f", i * 100, 50) for i in range(8)],
        "filename string, offset long, length long")
    plan = _executed_plan(fetch_plan(caps, max_batch_bytes=120))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(filename" in plan


def test_latest_captures_has_no_window_and_keyed_exchanges_only(spark):
    """The collapse is one logical aggregate — no Window operator in
    the physical plan (the window idiom would sort every urlkey
    group).  Physically the exact countDistinct expands to two
    phases: a (urlkey, digest)-keyed exchange then a urlkey-keyed
    merge — both hash-keyed, never SinglePartition."""
    from htmlcleanup_spark.sources.cdx import latest_captures

    plan = _executed_plan(latest_captures(_captures(spark)))
    assert "Window" not in plan
    assert plan.count("Exchange") == 2
    import re
    assert re.search(r"hashpartitioning\(urlkey#\d+, digest#\d+", plan)
    assert "SinglePartition" not in plan


def test_surt_key_sorts_query_params(spark):
    got = _surt(spark, [
        "https://example.com/p?b=2&a=1&c",
        "https://example.com/p?a=1&b=2&c",     # same key either order
        "https://example.com/p?single=1",
    ])
    assert got[0] == "com,example)/p?a=1&b=2&c"
    assert got[0] == got[1]
    assert got[2] == "com,example)/p?single=1"


def test_capture_history_islands(spark):
    from htmlcleanup_spark.sources.cdx import capture_history

    caps = spark.createDataFrame(
        [
            # u1: A A B A  -> versions A[1,3) x2, B[3,4) x1, A[4,-) x1
            ("u1", 1, "A"), ("u1", 2, "A"), ("u1", 3, "B"), ("u1", 4, "A"),
            # u2: single capture -> one open version
            ("u2", 7, "Z"),
        ],
        "urlkey string, ts long, digest string",
    )
    rows = sorted(
        (r.urlkey, r.version, r.valid_from, r.valid_to, r.digest,
         r.n_captures)
        for r in capture_history(caps).collect()
    )
    assert rows == [
        ("u1", 1, 1, 3, "A", 2),
        ("u1", 2, 3, 4, "B", 1),
        ("u1", 3, 4, None, "A", 1),
        ("u2", 1, 7, None, "Z", 1),
    ]


def test_capture_history_windows_all_urlkey_partitioned(spark):
    """Every window/groupBy in the plan must be urlkey-keyed — no
    SinglePartition window (the few-key anti-pattern) anywhere."""
    from htmlcleanup_spark.sources.cdx import capture_history
    import re

    caps = spark.createDataFrame(
        [("u%d" % (i % 5), i, "d%d" % (i % 2)) for i in range(40)],
        "urlkey string, ts long, digest string",
    )
    plan = (
        capture_history(caps)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(urlkey#\d+", plan)


def test_cluster_index_matches_global_enumeration(spark):
    from htmlcleanup_spark.sources.cdx import cluster_index

    rows = [("k%03d" % (i % 37), 1000 + i) for i in range(200)]
    caps = spark.createDataFrame(rows, "urlkey string, ts long")
    got = sorted(
        (r.block, r.first_urlkey, r.first_ts, r.n_lines)
        for r in cluster_index(caps, every=16, num_ranges=7).collect()
    )
    # reference: single-process sort + enumerate
    srt = sorted(rows)
    exp = {}
    for rn0, (k, ts) in enumerate(srt):
        b = rn0 // 16
        if b not in exp:
            exp[b] = [b, k, ts, 0]
        exp[b][3] += 1
    assert got == sorted(tuple(v) for v in exp.values())


def test_cluster_index_has_no_single_partition_sort(spark):
    """The enumerate must stay distributed: range partitioning for the
    sort stage, no SinglePartition window/exchange in either the
    enumerate stage (pre-checkpoint) or the final rollup."""
    from htmlcleanup_spark.sources.cdx import _enumerate_sorted, cluster_index

    caps = spark.createDataFrame(
        [("k%d" % (i % 11), i) for i in range(50)],
        "urlkey string, ts long",
    )
    stage = _enumerate_sorted(caps, num_ranges=5)
    splan = stage._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(urlkey" in splan
    assert "SinglePartition" not in splan
    out = cluster_index(caps, every=8, num_ranges=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" not in plan
