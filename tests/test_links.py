"""Link-graph extraction + PageRank.

The extractor is checked three ways: resolver unit cases, a hand-written
page with decoys, and full parity between extract_outlinks and the
recipe-derived expected_outlinks on the synthetic corpus.  PageRank is
checked against an independent pure-Python power iteration and its
invariants (mass conservation, uniform graph ⇒ uniform rank).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlcleanup_spark.operators.links import (
    edges_from_outlinks,
    expected_outlinks,
    extract_outlinks,
    host_of,
    outlinks_of,
    pagerank,
    resolve_url,
    synth_base_url,
    synth_linked_html,
)

BASE = "http://hostA.example.com/p/1"


@pytest.mark.parametrize(
    "href,expect",
    [
        ("http://x.org/a", "http://x.org/a"),
        ("https://x.org/", "https://x.org/"),
        ("//y.org/b", "http://y.org/b"),
        ("/c/d", "http://hostA.example.com/c/d"),
        ("/", "http://hostA.example.com/"),
        ("rel/e", "rel/e"),          # path-relative: passed through
        ("#frag", "#frag"),
    ],
)
def test_resolve_url(href, expect):
    assert resolve_url(BASE, href) == expect


def test_resolve_scheme_relative_inherits_https():
    assert resolve_url("https://s.ex/p", "//y.org/b") == "https://y.org/b"


def test_host_of():
    assert host_of("http://a.b.c:8080/x") == "a.b.c:8080"
    assert host_of("/x") == ""


def test_outlinks_of_hand_page():
    html = (
        "<html><body>"
        '<a name="anchor-only">skip me</a>'
        '<p><a href="/x"><strong>bold</strong> tail</a></p>'
        '<div><a href="//other.org/y">sch</a>'
        '<a href="http://abs.org/z">abs</a></div>'
        "</body></html>"
    )
    rows = outlinks_of(html, BASE)
    assert rows == [
        (0, "/x", "http://hostA.example.com/x", "bold tail",
         "hostA.example.com"),
        (1, "//other.org/y", "http://other.org/y", "sch", "other.org"),
        (2, "http://abs.org/z", "http://abs.org/z", "abs", "abs.org"),
    ]


def test_synth_parity_pure():
    """Extractor output == recipe-derived expectation for every doc."""
    n = 97
    for d in range(n):
        sh = "host%d.example.com" % (d % 50)
        got = [
            (d,) + r + (sh,)
            for r in outlinks_of(synth_linked_html(d, n), synth_base_url(d))
        ]
        assert got == expected_outlinks(d, n), "doc %d" % d


def _pure_pagerank(n, edges, iterations=5, damping=0.85):
    """Independent reference: dict-based power iteration."""
    out = {}
    for s, t in edges:
        out.setdefault(s, set()).add(t)
    pr = {v: 1.0 / n for v in range(n)}
    for _ in range(iterations):
        dangling = sum(pr[v] for v in range(n) if v not in out)
        nxt = {v: (1 - damping) / n + damping * dangling / n
               for v in range(n)}
        for s, ts in out.items():
            share = pr[s] / len(ts)
            for t in ts:
                nxt[t] += damping * share
        pr = nxt
    return pr


@pytest.fixture(scope="module")
def link_corpus(spark):
    n = 60
    rows = [
        (d, synth_linked_html(d, n), synth_base_url(d)) for d in range(n)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, html string, base_url string"
    )
    return n, df


def test_extract_outlinks_spark_matches_expected(spark, link_corpus):
    n, df = link_corpus
    got = sorted(
        tuple(r) for r in extract_outlinks(df).collect()
    )
    want = sorted(
        tuple(r) for d in range(n) for r in expected_outlinks(d, n)
    )
    assert got == want


def test_pagerank_matches_pure_reference(spark, link_corpus):
    n, df = link_corpus
    links = extract_outlinks(df)
    edges = edges_from_outlinks(links)
    nodes = df.select("doc_id")
    got = {r["doc_id"]: r["pr_e9"] for r in pagerank(nodes, edges).collect()}

    pure_edges = sorted({(s, t) for s, t in (
        (d, (d * 7 + 13 * (i + 1)) % n)
        for d in range(n)
        for i in range(1 + d % 4)
    ) if s != t})
    want = _pure_pagerank(n, pure_edges)
    assert set(got) == set(range(n))
    for v in range(n):
        assert abs(got[v] - int(want[v] * 1e9)) <= 1, v


def test_pagerank_mass_conserved(spark, link_corpus):
    n, df = link_corpus
    edges = edges_from_outlinks(extract_outlinks(df))
    total = sum(
        r["pr_e9"] for r in pagerank(df.select("doc_id"), edges).collect()
    )
    assert abs(total - 1e9) < n + 1  # floor loses < 1 ulp-of-quantum/node


def test_pagerank_uniform_on_ring(spark):
    """A directed ring (every outdeg == indeg == 1) keeps rank uniform."""
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    prs = {r["pr_e9"] for r in pagerank(nodes, edges, iterations=3).collect()}
    assert prs == {int(1e9 / n // 1)}


def test_edges_drop_chrome_and_self(spark, link_corpus):
    n, df = link_corpus
    edges = edges_from_outlinks(extract_outlinks(df)).collect()
    assert all(r["src"] != r["dst"] for r in edges)
    # chrome links (/, /a, /b, /c, /t) never resolve to /p/<id> urls
    want = {(s, t) for s, t in (
        (d, (d * 7 + 13 * (i + 1)) % n)
        for d in range(n)
        for i in range(1 + d % 4)
    ) if s != t}
    assert {(r["src"], r["dst"]) for r in edges} == want


def test_anchor_stats(spark, link_corpus):
    from htmlcleanup_spark.operators.links import (
        anchor_stats,
        extract_outlinks,
    )

    n, df = link_corpus
    links = extract_outlinks(df)
    stats = {r["target_url"]: r for r in anchor_stats(links).collect()}
    # chrome '/': every page links to its own host root -> one row per host
    # with n_inlinks == pages on that host (n=60, 50 hosts: hosts 0..9 get
    # 2 pages, the rest 1)
    h0 = stats["http://host0.example.com/"]
    assert h0["n_inlinks"] == 2 and h0["n_src_hosts"] == 1
    assert h0["first_anchor"] == "Home"
    # a content url's inlink count equals its arithmetic indegree; NB the
    # root-relative form resolves against the SOURCE host, so the url host
    # is d%50 for form 1 and t%50 otherwise.  n_src_hosts counts distinct
    # SOURCE hosts (d%50 of the linking docs), so it can exceed 1 — the
    # round-3 advisory bug counted the target's own host (constant 1).
    expected = {}
    src_hosts = {}
    for d in range(n):
        for i in range(1 + d % 4):
            t = (d * 7 + 13 * (i + 1)) % n
            h = (d if (d + i) % 3 == 1 else t) % 50
            u = "http://host%d.example.com/p/%d" % (h, t)
            expected[u] = expected.get(u, 0) + 1
            src_hosts.setdefault(u, set()).add(d % 50)
    for u, cnt in list(expected.items())[:10]:
        assert stats[u]["n_inlinks"] == cnt, u
        assert stats[u]["first_anchor"].startswith("link ")
    for u, hs in src_hosts.items():
        assert stats[u]["n_src_hosts"] == len(hs), u
    assert any(len(hs) > 1 for hs in src_hosts.values()), \
        "corpus must exercise the multi-source-host case"


def test_blocklist_filter(spark):
    from htmlcleanup_spark.functions.url import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "http://bad.com/x"),
            (2, "http://www.bad.com/y"),
            (3, "http://notbad.com/z"),
            (4, "https://ok.org/casino/p"),
            (5, "https://ok.org/fine"),
            (6, "relative/path"),
        ],
        "doc_id bigint, url string",
    )
    kept = {
        r["doc_id"]
        for r in blocklist_filter(
            df, hosts=["BAD.com"], path_patterns=["/casino/"]
        ).collect()
    }
    assert kept == {3, 5, 6}


def test_blocklist_filter_is_broadcast_antijoin(spark):
    from htmlcleanup_spark.functions.url import blocklist_filter

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("http://h"), F.col("id") % 7, F.lit(".ex/p")).alias(
            "url"
        ),
    )
    plan = blocklist_filter(
        df, hosts=["h1.ex", "h2.ex"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_outlinks_of_messy_markup():
    """Pinned behavior on real-world messy anchors: case-insensitive tag
    and attr names, unquoted values, WHATWG whitespace-stripped
    resolution (raw href preserved), duplicate attr keeps the first,
    empty href kept as a (filterable) empty-url row."""
    base = "http://h.ex/p/1"
    assert outlinks_of("<html><body><A HREF=/x>up</A></body></html>", base) \
        == [(0, "/x", "http://h.ex/x", "up", "h.ex")]
    assert outlinks_of(
        '<html><body><a href=" /sp ">ws</a></body></html>', base
    ) == [(0, " /sp ", "http://h.ex/sp", "ws", "h.ex")]
    assert outlinks_of(
        '<html><body><a href="/x" href="/y">dup</a></body></html>', base
    ) == [(0, "/x", "http://h.ex/x", "dup", "h.ex")]
    assert outlinks_of(
        '<html><body><a href="">e</a></body></html>', base
    ) == [(0, "", "", "e", "")]
    # WHATWG trims C0 controls (not just whitespace) before resolution —
    # \x01 is not Unicode whitespace, so str.strip() alone misses it
    assert outlinks_of(
        '<html><body><a href="\x01/c0\x1f ">c</a></body></html>', base
    ) == [(0, "\x01/c0\x1f ", "http://h.ex/c0", "c", "h.ex")]
    # ...and does NOT trim non-WHATWG Unicode whitespace like \xa0: the
    # href stays unresolvable (no leading '/'), returned unchanged
    assert outlinks_of(
        '<html><body><a href="\xa0/nb">n</a></body></html>', base
    ) == [(0, "\xa0/nb", "\xa0/nb", "n", "")]


def test_outlinks_of_deep_pages():
    """Nesting depth loses no link, and nested anchors are read in one
    walk: each anchor's text is the text of its own subtree."""
    base = "http://h.ex/p/1"
    deep = "<div>" * 10_000 + '<a href="/d">deep</a>' + "</div>" * 10_000
    assert outlinks_of(deep, base) == [
        (0, "/d", "http://h.ex/d", "deep", "h.ex")]
    nested = outlinks_of('<a href="/n">x' * 10_000, base)
    assert len(nested) == 10_000
    assert nested[0][3] == "x" * 10_000 and nested[-1][3] == "x"


def test_outlinks_of_never_raises_fuzz():
    """Total on arbitrary input: any byte soup parses (the engine DOM is
    lenient), seq is dense 0..m-1, and resolved absolute urls always give
    a host."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    chunks = st.lists(
        st.sampled_from(
            ["<a", " href=", '"', "'", "/x", ">", "</a>", "<p>", "text",
             "http://h.ex", "//s", "&amp;", "<", ">", '<a href="/y">z</a>',
             "é", " ", "=", "<div>", "</div>", "<a name=n>t</a>"]
        ),
        max_size=30,
    )

    @settings(max_examples=200, deadline=None)
    @given(chunks)
    def run(parts):
        html = "<html><body>" + "".join(parts) + "</body></html>"
        rows = outlinks_of(html, "http://base.ex/p/0")
        assert [r[0] for r in rows] == list(range(len(rows)))
        for _, _, url, _, host in rows:
            if "://" in url:
                assert host == url.split("://", 1)[1].split("/", 1)[0]

    run()


def test_hits_hub_authority_structure(spark):
    """0 and 1 both point at 2 (authority); 0 also points at 3; nothing
    points at 0/1 and they link out only -> pure hubs."""
    from htmlcleanup_spark.operators.links import hits

    nodes = spark.createDataFrame([(i,) for i in range(4)],
                                  "doc_id long")
    edges = spark.createDataFrame(
        [(0, 2), (1, 2), (0, 3)], "src long, dst long"
    )
    out = {r.doc_id: r for r in hits(nodes, edges, iterations=4).collect()}

    assert out[2].auth_e9 > out[3].auth_e9 > 0
    assert out[0].auth_e9 == 0 and out[1].auth_e9 == 0
    assert out[0].hub_e9 > out[1].hub_e9 > 0
    assert out[2].hub_e9 == 0 and out[3].hub_e9 == 0
    # L1 normalization: each vector sums to ~1 (floor slack <= 1e-9 * n)
    assert sum(r.auth_e9 for r in out.values()) >= 10**9 - 4
    assert sum(r.hub_e9 for r in out.values()) >= 10**9 - 4


def test_host_graph_rollup(spark):
    from htmlcleanup_spark.operators.links import host_graph

    ol = spark.createDataFrame(
        [
            (0, "a.com", "b.com", "http://b.com/1"),
            (0, "a.com", "b.com", "http://b.com/1"),   # same url twice
            (1, "a.com", "b.com", "http://b.com/2"),
            (1, "a.com", "a.com", "http://a.com/nav"),  # chrome self-loop
        ],
        "src_doc long, src_host string, host string, url string",
    )
    rows = {
        (r.src_host, r.dst_host): r for r in host_graph(ol).collect()
    }
    ab = rows[("a.com", "b.com")]
    assert (ab.n_links, ab.n_src_pages, ab.n_dst_urls) == (3, 2, 2)
    assert not ab.intra_host
    aa = rows[("a.com", "a.com")]
    assert (aa.n_links, aa.n_src_pages, aa.n_dst_urls) == (1, 1, 1)
    assert aa.intra_host


def test_host_graph_plan_is_single_pair_keyed_aggregate(spark):
    from htmlcleanup_spark.operators.links import host_graph
    import re

    ol = spark.createDataFrame(
        [(i, "h%d" % (i % 3), "h%d" % (i % 5), "u%d" % i)
         for i in range(30)],
        "src_doc long, src_host string, host string, url string",
    )
    plan = host_graph(ol)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # two-phase exact-distinct aggregate: first exchange keyed
    # (pair + distinct cols + gid) — spreads even a mega host-pair —
    # then the pair-keyed final; nothing else shuffles
    # key ORDER inside hashpartitioning is not a Spark contract (it
    # flipped between runs under the full suite) — assert membership:
    # one exchange carries pair + BOTH distinct cols (the spread), one
    # carries the bare pair (the final)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 2, plan
    spread = [e for e in exchanges
              if "url#" in e and "src_doc#" in e
              and "src_host#" in e and "host#" in e]
    final = [e for e in exchanges
             if "url#" not in e and "src_doc#" not in e
             and "src_host#" in e and "host#" in e]
    assert len(spread) == 1 and len(final) == 1, exchanges


def test_url_path_templates_trap_detection(spark):
    from htmlcleanup_spark.functions.url import url_path_templates

    rows = [("https://a.ex/item/%d?s=1" % i,) for i in range(30)]
    rows += [("https://a.ex/about",), ("https://b.ex/item/7",)]
    df = spark.createDataFrame(rows, "url string")
    out = {(r.host, r.template): r
           for r in url_path_templates(df, trap_min_urls=10).collect()}
    trap = out[("a.ex", "/item/N")]
    assert trap.n_urls == 30 and trap.is_trap
    assert trap.sample_url == "https://a.ex/item/0?s=1"
    assert trap.depth == 2
    about = out[("a.ex", "/about")]
    assert about.n_urls == 1 and not about.is_trap and about.depth == 1
    # below threshold: digit template but only 1 url
    assert not out[("b.ex", "/item/N")].is_trap


def test_anchor_text_agg_exact_topk_and_order(spark):
    from htmlcleanup_spark.operators.links import anchor_text_agg

    # target T: 7 distinct anchors with a frequency tie at the cut —
    # top-5 by (n DESC, anchor ASC) must pick the ASC-first tie member.
    rows = []
    freqs = {"alpha": 4, "beta": 4, "gamma": 3, "delta": 2,
             "epsilon": 2, "zeta": 2, "eta": 1}
    for a, n in freqs.items():
        rows += [("http://s.ex/%s%d" % (a, i), "T", a) for i in range(n)]
    rows.append(("http://s.ex/x", "U", "only"))
    df = spark.createDataFrame(rows, "src_url string, url string, anchor string")
    out = {r.target_url: r for r in anchor_text_agg(df, k=5).collect()}
    t = out["T"]
    # epsilon/zeta/delta tie at n=2; ASC keeps delta+epsilon, drops zeta
    assert t.anchor_text == "alpha | beta | gamma | delta | epsilon"
    assert t.n_anchors == 5 and t.n_inlinks_top == 4 + 4 + 3 + 2 + 2
    u = out["U"]
    assert u.anchor_text == "only" and u.n_anchors == 1


def test_anchor_text_agg_bucket_cut_matches_unbucketed(spark):
    """The per-bucket pre-cut must be lossless: compare against the
    single-window reference on a corpus where buckets matter (many
    distinct anchors per target, k small, 1-nibble buckets so several
    anchors share a bucket)."""
    from pyspark.sql.window import Window

    from htmlcleanup_spark.operators.links import anchor_text_agg

    rows = [
        ("s%d" % i, "T%d" % (i % 3), "anchor-%02d" % (i % 17))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "src_url string, url string, anchor string")
    got = {r.target_url: r.anchor_text
           for r in anchor_text_agg(df, k=4, bucket_nibbles=1).collect()}
    cnt = df.groupBy(F.col("url").alias("t"), "anchor").agg(
        F.count("*").alias("n"))
    w = Window.partitionBy("t").orderBy(F.col("n").desc(), F.col("anchor"))
    ref_rows = (cnt.withColumn("r", F.row_number().over(w))
                .filter("r <= 4").orderBy("t", "r").collect())
    ref = {}
    for r in ref_rows:
        ref.setdefault(r.t, []).append(r.anchor)
    assert got == {t: " | ".join(v) for t, v in ref.items()}
