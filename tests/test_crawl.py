"""Crawl-snapshot diff + incremental-extract selection."""

from __future__ import annotations

from pyspark.sql import functions as F

from htmlcleanup_spark.operators.crawl import crawl_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_crawl_diff_statuses(spark):
    old = _snap(spark, [("a", "1"), ("b", "2"), ("c", "3")])
    new = _snap(spark, [("b", "2"), ("c", "CHANGED"), ("d", "4")])
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "a": "removed",
        "b": "unchanged",
        "c": "changed",
        "d": "added",
    }


def test_crawl_diff_digest_column_passthrough(spark):
    old = spark.createDataFrame([("a", "h1")], "url string, dg string")
    new = spark.createDataFrame([("a", "h2")], "url string, dg string")
    got = crawl_diff(old, new, digest_col="dg").collect()
    assert got[0]["status"] == "changed"
    assert (got[0]["old_digest"], got[0]["new_digest"]) == ("h1", "h2")


def test_diff_shuffles_digests_not_bodies(spark):
    """The exchange moves (key, digest) projections — the text column must
    be pruned out before the join."""
    old = _snap(spark, [("a", "x" * 1000)])
    new = _snap(spark, [("a", "y" * 1000)])
    plan = crawl_diff(old, new)._jdf.queryExecution().optimizedPlan().toString()
    # text appears only inside md5() projections, never as a join output
    assert "md5(" in plan
    for line in plan.splitlines():
        if "Join" in line:
            assert "text" not in line


def test_crawl_frontier(spark):
    from htmlcleanup_spark.operators.crawl import crawl_frontier

    outlinks = spark.createDataFrame(
        [("u1", "a"), ("u2", "a"), ("u3", "b"), ("u1", "b"), ("u1", "c")],
        "src string, url string",
    ).select("url")
    crawled = spark.createDataFrame([("a",), ("x",)], "url string")
    got = {r["url"]: r["n_inlinks"]
           for r in crawl_frontier(outlinks, crawled).collect()}
    assert got == {"b": 2, "c": 1}


def test_crawl_diff_on_bucketed_snapshots_no_exchange(spark, tmp_path):
    """Snapshot tables bucketed by url diff with ZERO Exchange nodes —
    the incremental-recrawl plan at 10^12 rows reads co-located buckets
    (broadcast disabled so the test can't pass via a broadcast plan)."""
    from htmlcleanup_spark.sources.pages import write_bucketed

    rows_old = [("u%d" % i, "text %d" % i) for i in range(40)]
    rows_new = [("u%d" % i, "text %d" % (i if i % 3 else -i))
                for i in range(1, 44)]
    old = spark.createDataFrame(rows_old, "url string, text string")
    new = spark.createDataFrame(rows_new, "url string, text string")
    write_bucketed(old, "t_snap_old", str(tmp_path / "so"), buckets=4)
    write_bucketed(new, "t_snap_new", str(tmp_path / "sn"), buckets=4)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        diff = crawl_diff(spark.table("t_snap_old"), spark.table("t_snap_new"))
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = {r["status"] for r in diff.collect()}
        assert got == {"added", "removed", "changed", "unchanged"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS t_snap_old")
        spark.sql("DROP TABLE IF EXISTS t_snap_new")


def test_pack_sequences_boundaries(spark):
    """Concatenate-then-chunk: seq/offset from the running token sum;
    per-shard packing restarts the stream."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.sample import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i))) for i in range(6)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_sequences(df, seq_len=10).collect()}
    # cum prefix: 0,3,7,12,19,25
    assert [(out[i].seq_id, out[i].offset) for i in range(6)] == [
        (0, 0), (0, 3), (0, 7), (1, 2), (1, 8), (2, 5)
    ]

    sharded = pack_sequences(
        df.withColumn("shard", F.col("doc_id") % 2),
        seq_len=10, shard_col="shard",
    )
    s = {(r.shard, r.doc_id): (r.seq_id, r.offset)
         for r in sharded.collect()}
    # shard 0: docs 0,2,4 (3,5,7 toks) -> cums 0,3,8
    assert s[(0, 0)] == (0, 0) and s[(0, 2)] == (0, 3)
    assert s[(0, 4)] == (0, 8)


def test_mixture_sample_exact_proportions(spark):
    from htmlcleanup_spark.operators.sample import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 60 else ("b" if i < 90 else "c"))
         for i in range(100)],
        "doc_id long, source string",
    )
    # n = 60/30/10; weights .5/.3/.2 -> T = min(120, 100, 50) = 50
    out = mixture_sample(df, {"a": 0.5, "b": 0.3, "c": 0.2})
    got = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["source"]] += 1
    assert got == {"a": 25, "b": 15, "c": 10}
    # deterministic: same rows on re-run
    again = {(r.doc_id) for r in
             mixture_sample(df, {"a": 0.5, "b": 0.3, "c": 0.2}).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_robots_txt_parse_and_longest_match(spark):
    """Grouped UA parsing, longest-match, allow-on-tie, no-match-allows,
    case-insensitive directives."""
    from htmlcleanup_spark.operators.crawl import (
        parse_robots_rules, robots_allowed,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: bot\nDisallow: /\n"
             "USER-AGENT: *\ndisallow: /priv\nAllow: /priv/pub\n"
             "Disallow: /tie\nallow: /tie"),   # equal length -> allow
            ("b.com", "User-agent: googlebot\nDisallow: /"),
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got = {(r.host, r.prefix, r.is_allow) for r in rules.collect()}
    # only the '*' group of a.com survives; b.com has no '*' group
    assert got == {("a.com", "/priv", False),
                   ("a.com", "/priv/pub", True),
                   ("a.com", "/tie", False),
                   ("a.com", "/tie", True)}

    pages = spark.createDataFrame(
        [("a.com", "/priv/x"), ("a.com", "/priv/pub/y"),
         ("a.com", "/tie"), ("a.com", "/open"),
         ("b.com", "/anything")],
        "host string, path string",
    )
    out = {(r.host, r.path): r.allowed
           for r in robots_allowed(pages, rules).collect()}
    assert out[("a.com", "/priv/x")] is False       # blocked prefix
    assert out[("a.com", "/priv/pub/y")] is True    # longer allow wins
    assert out[("a.com", "/tie")] is True           # tie -> allow
    assert out[("a.com", "/open")] is True          # no rule matches
    assert out[("b.com", "/anything")] is True      # no '*' group


def test_robots_comments_stripped_before_parse(spark):
    """RFC 9309 §2.2.4: '#' starts a comment to end-of-line — a trailing
    comment must not become part of the rule path."""
    from htmlcleanup_spark.operators.crawl import (
        parse_robots_rules, robots_allowed,
    )

    robots = spark.createDataFrame(
        [("a.com",
          "# site policy\nUser-agent: *   # everyone\n"
          "Disallow: /private  # staff only\n# end")],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got = {(r.prefix, r.is_allow) for r in rules.collect()}
    assert got == {("/private", False)}
    pages = spark.createDataFrame(
        [("a.com", "/private/x")], "host string, path string"
    )
    out = robots_allowed(pages, rules).collect()
    assert out[0].allowed is False


def test_robots_multi_user_agent_group(spark):
    """Consecutive User-agent lines form ONE group (RFC 9309 §2.1): a
    '*' listed first must not be shadowed by a later agent line."""
    from htmlcleanup_spark.operators.crawl import parse_robots_rules

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: *\nUser-agent: otherbot\nDisallow: /blocked\n"
          "\nUser-agent: bot\nDisallow: /")],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got = {(r.prefix, r.is_allow) for r in rules.collect()}
    # the (*, otherbot) group binds '*'; the bot-only group does not
    assert got == {("/blocked", False)}


def test_robots_specific_agent_precedence(spark):
    """Most-specific-agent rule: a host with a group naming the agent
    ignores its '*' groups for that agent; hosts without one fall back
    to '*'."""
    from htmlcleanup_spark.operators.crawl import parse_robots_rules

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: *\nDisallow: /star\n"
          "User-agent: MyBot\nDisallow: /mine"),
         ("b.com", "User-agent: *\nDisallow: /fallback")],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots, agent="mybot")
    got = {(r.host, r.prefix) for r in rules.collect()}
    assert got == {("a.com", "/mine"), ("b.com", "/fallback")}


def test_robots_wildcard_and_anchor(spark):
    """MUST-level '*' and '$' wildcards: '*' spans any chars, trailing
    '$' anchors end-of-path; specificity = raw pattern octet length."""
    from htmlcleanup_spark.operators.crawl import (
        parse_robots_rules, robots_allowed,
    )

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: *\n"
          "Disallow: /*.tmp$\n"
          "Disallow: /dl/*/secret\n"
          "Disallow: /exact$\n"
          "Allow: /dl/pub/secret-ok")],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    pages = spark.createDataFrame(
        [("a.com", "/a/b.tmp"),        # matches /*.tmp$
         ("a.com", "/a/b.tmp.bak"),    # $ anchor -> no match
         ("a.com", "/dl/x/secret"),    # mid-path wildcard
         ("a.com", "/dl/pub/secret-okay"),  # longer allow wins
         ("a.com", "/exact"),          # anchored literal: equality
         ("a.com", "/exactly")],       # anchored literal: no prefix match
        "host string, path string",
    )
    out = {r.path: r.allowed
           for r in robots_allowed(pages, rules).collect()}
    assert out["/a/b.tmp"] is False
    assert out["/a/b.tmp.bak"] is True
    assert out["/dl/x/secret"] is False
    assert out["/dl/pub/secret-okay"] is True
    assert out["/exact"] is False
    assert out["/exactly"] is True


def test_mixture_sample_matches_single_window_rank(spark):
    """The two-level bucketed rank must pick EXACTLY the md5-smallest
    take_s docs per source — verified against a brute-force Python
    replica of the (md5 key, id) total order."""
    import hashlib

    from htmlcleanup_spark.operators.sample import mixture_sample

    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df, {"a": 0.7, "b": 0.3}, salt="mix")
    got = {r.source: set() for r in out.collect()}
    for r in out.collect():
        got[r.source].add(r.doc_id)

    # brute force: T = min(floor(200/.7), floor(100/.3)) = 285
    by_src = {"a": [], "b": []}
    for i, s in rows:
        k = hashlib.md5(("mix:%d" % i).encode()).hexdigest()
        by_src[s].append((k, i))
    t = min(int(200 / 0.7), int(100 / 0.3))
    for s, w in (("a", 0.7), ("b", 0.3)):
        take = int(w * t)
        want = {i for _, i in sorted(by_src[s])[:take]}
        assert got[s] == want, s


def test_mixture_sample_zero_row_source_yields_empty(spark):
    """A weights-listed source with no pool rows makes the promised
    proportions unrealizable: T = 0 and the result is EMPTY, never a
    silently re-proportioned sample."""
    from htmlcleanup_spark.operators.sample import mixture_sample

    df = spark.createDataFrame(
        [(i, "a") for i in range(50)], "doc_id long, source string"
    )
    out = mixture_sample(df, {"a": 0.5, "ghost": 0.5})
    assert out.count() == 0


def test_mixture_sample_window_is_bucketed_not_per_source(spark):
    """Scale gate: the rank window must partition by (source, bucket),
    never by source alone — AQE cannot split a skewed WINDOW partition,
    so a per-source window would put a dominant source's 10^11 rows in
    one task.  Checked on the physical plan + actual group sizes."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.sample import mixture_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, source string",
    )
    out = mixture_sample(df, {"big": 0.9, "small": 0.1})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_mx_bkt" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "_mx_bkt" in line, line
    # no (source, bucket) group carries a source's full row count
    sizes = (
        df.withColumn(
            "_b",
            F.substring(
                F.md5(F.concat_ws(":", F.lit("mix"),
                                  F.col("doc_id").cast("string"))), 1, 2
            ),
        )
        .groupBy("source", "_b").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert sizes < 900


def test_pack_sequences_sharded_plan_has_no_global_window(spark):
    """Corpus-path gate: with shard_col the window is shard-keyed — the
    plan must not contain the SinglePartition exchange a global
    Window.orderBy() compiles to (and the global path must, so the gate
    is load-bearing)."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.sample import pack_sequences

    df = spark.createDataFrame(
        [(i, "w w w") for i in range(8)], "doc_id long, text string"
    ).withColumn("shard", F.col("doc_id") % 2)
    sharded = pack_sequences(df, seq_len=4, shard_col="shard")
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    glob = pack_sequences(df, seq_len=4)
    gplan = glob._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in gplan


def test_token_budget_stratified_semantics_and_plan(spark):
    """Per-stratum budget: each stratum fills its own budget_tokens
    prefix; the window shuffle is stratum-keyed (no SinglePartition)."""
    from htmlcleanup_spark.operators.sample import token_budget_sample

    df = spark.createDataFrame(
        [
            # (id, stratum, priority, text) — 3 tokens per doc
            (1, "s1", 9, "a b c"),
            (2, "s1", 8, "a b c"),
            (3, "s1", 7, "a b c"),
            (4, "s2", 9, "a b c"),
            (5, "s2", 1, "a b c"),
        ],
        "doc_id long, src string, prio int, text string",
    )
    out = token_budget_sample(
        df, 6, priority_col="prio", stratum_col="src"
    )
    kept = {(r.src, r.doc_id) for r in out.collect()}
    # 6-token budget per stratum = top-2 docs of s1, both docs of s2
    assert kept == {("s1", 1), ("s1", 2), ("s2", 4), ("s2", 5)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_politeness_schedule_serializes_hosts(spark):
    from htmlcleanup_spark.operators.crawl import politeness_schedule

    rows = [("https://a.ex/%d" % i, "a.ex") for i in range(4)] + \
           [("https://b.ex/1", "b.ex")]
    df = spark.createDataFrame(rows, "url string, host string")
    out = politeness_schedule(df, crawl_delay_s=7, n_workers=8).collect()
    a = sorted([r for r in out if r.host == "a.ex"],
               key=lambda r: r.slot)
    # slots are 0..n-1 dense per host, fetch times exactly delay apart
    assert [r.slot for r in a] == [0, 1, 2, 3]
    assert [r.fetch_at_s for r in a] == [0, 7, 14, 21]
    # one worker per host (same-host serialization)
    assert len({r.worker for r in a}) == 1
    assert all(0 <= r.worker < 8 for r in out)
    b = [r for r in out if r.host == "b.ex"][0]
    assert (b.slot, b.fetch_at_s) == (0, 0)


def test_politeness_schedule_is_deterministic(spark):
    from htmlcleanup_spark.operators.crawl import politeness_schedule

    df = spark.createDataFrame(
        [("https://a.ex/%d" % i, "a.ex") for i in range(10)],
        "url string, host string")
    one = {(r.url, r.slot) for r in politeness_schedule(df).collect()}
    two = {(r.url, r.slot) for r in politeness_schedule(df).collect()}
    assert one == two


def test_parse_sitemap_urlset_index_and_malformed(spark):
    from htmlcleanup_spark.operators.crawl import parse_sitemap

    urlset = ('<?xml version="1.0"?>\n<urlset>\n'
              ' <url>\n  <loc>https://a.ex/1</loc>\n'
              '  <lastmod>2024-05-01</lastmod>\n'
              '  <priority>0.8</priority>\n </url>\n'
              ' <url><loc>https://a.ex/2</loc>'
              '<changefreq>weekly</changefreq></url>\n'
              ' <url>no loc tag at all</url>\n'
              '</urlset>')
    index = ('<sitemapindex><sitemap>'
             '<loc>https://a.ex/sm-1.xml</loc></sitemap></sitemapindex>')
    df = spark.createDataFrame(
        [(1, urlset), (2, index), (3, "not xml")],
        "doc_id long, xml string")
    rows = parse_sitemap(df).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    one = sorted(by[1], key=lambda r: r.loc or "")
    # multiline block captured ((?s)); wrapper <urlset> never matches
    assert len(one) == 3
    assert (one[1].loc, one[1].lastmod, one[1].priority) == (
        "https://a.ex/1", "2024-05-01", "0.8")
    assert (one[2].loc, one[2].changefreq, one[2].lastmod) == (
        "https://a.ex/2", "weekly", None)
    assert one[0].loc is None                 # malformed block -> NULLs
    assert by[2][0].kind == "sitemap"
    assert by[2][0].loc == "https://a.ex/sm-1.xml"
    assert 3 not in by                        # non-XML doc: no entries


def test_robots_sitemaps_directives(spark):
    from htmlcleanup_spark.operators.crawl import robots_sitemaps

    body = ("User-agent: *\nDisallow: /x\n"
            "Sitemap: https://a.ex/sm.xml\n"
            "  sitemap:https://a.ex/sm2.xml   # mirror\n"
            "SITEMAP:   \n"                 # empty -> dropped
            "NotASitemap: https://a.ex/no.xml\n")
    df = spark.createDataFrame([("a.ex", body)], "host string, body string")
    got = sorted(r.sitemap_url for r in robots_sitemaps(df).collect())
    assert got == ["https://a.ex/sm.xml", "https://a.ex/sm2.xml"]


def test_recrawl_priority_formula(spark):
    from htmlcleanup_spark.operators.crawl import recrawl_priority

    rows = [
        # 3 captures, 3 digests -> rate 1e6; latest 2024-06-01
        ("k1", "20240601000000", "u1", 3, 3),
        # 5 captures, 1 digest -> rate 0 (never changes)
        ("k2", "20240601000000", "u2", 5, 1),
        # single capture -> rate 0 by the no-evidence rule
        ("k3", "20241231000000", "u3", 1, 1),
    ]
    df = spark.createDataFrame(
        rows, "urlkey string, latest_ts string, url string, "
              "n_captures long, n_digests long")
    out = {r.urlkey: r
           for r in recrawl_priority(df, now_ts=20250101000000).collect()}
    k1 = out["k1"]
    assert k1.change_rate_e6 == 1000000
    assert k1.age_ord == 20250101 - 20240601
    assert k1.score_e6 == 1000000 * k1.age_ord
    assert out["k2"].score_e6 == 0 and out["k3"].score_e6 == 0


def test_robots_compliance_report(spark):
    from htmlcleanup_spark.operators.crawl import (
        parse_robots_rules, robots_compliance)

    robots = spark.createDataFrame(
        [("a", "User-agent: *\nDisallow: /private"),
         ("b", "User-agent: *\nDisallow:")],
        "host string, robots_txt string",
    )
    fetches = spark.createDataFrame(
        [("a", "/private/1"), ("a", "/private/2"), ("a", "/pub"),
         ("a", "/pub"),                  # refetch: counted once
         ("b", "/anything"),
         ("c", "/no-robots-host")],      # no rules -> allowed
        "host string, path string",
    )
    out = {r.host: r for r in robots_compliance(
        fetches, parse_robots_rules(robots)).collect()}
    assert out["a"].n_fetched == 3 and out["a"].n_violations == 2
    assert out["a"].violation_rate_e6 == 666666
    assert out["a"].sample_violation == "/private/1"
    assert out["b"].n_violations == 0
    assert out["b"].sample_violation is None
    assert out["c"].n_violations == 0
