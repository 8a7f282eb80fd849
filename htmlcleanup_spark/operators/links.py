"""Link-graph extraction and PageRank over crawled pages.

A web-text pipeline needs the OUTLINK TABLE (who links to whom, with what
anchor text) both as a quality signal (link-density, anchor spam) and as
the input to graph-based corpus curation (PageRank-seeded crawls, host
authority weighting — the Common Crawl / RefinedWeb practice).  The
reference engine has no link concept (its DOM pass normalizes ``<a>`` tags
in place, HtmlCleanup.py mangle_tag handling); extraction here reuses the
same engine DOM so a page parses once and identically for cleanup and for
link harvest.

Scale design:

- ``extract_outlinks`` is a stateless per-document map over pages — the
  same zero-shuffle plan slot as the cascade, so skewed pages are spread
  the same way upstream (``plans.extract.partition_for_cascade``).
- ``pagerank`` is the standard iterate-until-k power method expressed as
  DataFrame joins: per-iteration cost is one shuffle of the edge table on
  ``src`` (join against ranks), one on ``dst`` (contribution aggregation
  with map-side partial combine), and a broadcast of the 1-row dangling
  aggregate.  Lineage is cut per iteration (localCheckpoint, or reliable
  ``checkpoint`` when ``checkpoint_dir`` is given — same tradeoff as
  operators/dedup.connected_components: local blocks are unreplicated, so
  a lost executor kills the job at cluster scale unless reliable mode is
  on).  The edge table is re-used across iterations, so cache it when it
  fits: at 100 TB the edges (two longs) are ~1-2% of the page bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udf import doc_map

_FILLER = "and some surrounding prose to keep the block textual"

# the exact WHATWG pre-parse trim set: C0 controls U+0000..U+001F plus space
_C0_AND_SPACE = "".join(chr(c) for c in range(0x21))


def resolve_url(base: str, href: str) -> str:
    """Minimal crawl-grade href resolution (the three forms that dominate
    real markup): absolute (``scheme://``), scheme-relative (``//host/…``,
    inherits the base scheme), and root-relative (``/path``, inherits
    scheme://host).  Anything else (fragments, query-only, path-relative)
    returns the href unchanged — callers filter on the resolved shape."""
    if href.startswith("//"):
        scheme = base.split("://", 1)[0] if "://" in base else "http"
        return scheme + ":" + href
    if "://" in href:
        return href
    if href.startswith("/"):
        if "://" in base:
            scheme, rest = base.split("://", 1)
            return scheme + "://" + rest.split("/", 1)[0] + href
    return href


def host_of(url: str) -> str:
    """The authority component of an absolute url ('' when not absolute)."""
    if "://" not in url:
        return ""
    return url.split("://", 1)[1].split("/", 1)[0]


def outlinks_of(html: str, base_url: str) -> list[tuple]:
    """(seq, href, resolved_url, anchor, host) for every ``<a href=…>`` in
    document order.  Anchors without an ``href`` attribute (named anchors)
    are not links and are skipped.  Pure function — testable without
    Spark, and the unit the differential tests drive.

    One walk over the tree: every text is listed in document order, and an
    anchor's text is the slice of that list its subtree spans, so nested
    anchors cost no second walk."""
    from ..engine.dom import Tag, Text, descendants, parse

    texts: list[str] = []
    links: list[list] = []  # [href, first text index, end text index]
    open_tags: list = []    # per open tag: its links entry, or None
    for node in descendants(parse(html), exits=True):
        if node is None:
            link = open_tags.pop()
            if link is not None:
                link[2] = len(texts)
        elif node.__class__ is Text:
            texts.append(node.value)
        elif node.__class__ is Tag:
            href = node.get("href") if node.name == "a" else None
            link = None if href is None else [href, len(texts), None]
            if link is not None:
                links.append(link)
            open_tags.append(link)
    out = []
    for seq, (href, start, end) in enumerate(links):
        # WHATWG URL parsing strips leading/trailing C0-control (U+0000..1F)
        # and space from attribute urls before resolution; the raw href
        # column keeps them.  str.strip() alone is wrong both ways: it
        # misses C0 controls like \x01 and over-strips non-WHATWG Unicode
        # whitespace (\xa0).
        url = resolve_url(base_url, href.strip(_C0_AND_SPACE))
        out.append((seq, href, url, "".join(texts[start:end]),
                    host_of(url)))
    return out


def extract_outlinks(df: DataFrame, html_col: str = "html",
                     id_col: str = "doc_id",
                     base_url_col: str = "base_url") -> DataFrame:
    """The outlink table of a page corpus: one row per anchor, in document
    order, with the href resolved against the page's base url —
    (src_doc, seq, href, url, anchor, host, src_host).

    A stateless per-document map returns each page's anchors as one
    array, expanded JVM-side with ``inline`` (which keeps ``seq`` order) —
    zero shuffles; the engine DOM parse is the same one the cleanup
    cascade uses, so pages that parse for extraction parse identically
    here.  ``src_host`` is the SOURCE page's host (from its base url) —
    the column distinct-host inlink signals aggregate (``host`` is the
    resolved TARGET's host).
    """
    return doc_map(
        df, lambda html, base: (outlinks_of(html, base), host_of(base)),
        [html_col, base_url_col],
        "links array<struct<seq:int, href:string, url:string, "
        "anchor:string, host:string>>, src_host string",
        carry=[id_col],
    ).select(F.col(id_col).alias("src_doc"), F.inline("links"), "src_host")


# ---------------------------------------------------------------------------
# Deterministic synthetic link corpus (oracle-reconstructable arithmetic)
# ---------------------------------------------------------------------------

def synth_base_url(doc_id: int) -> str:
    return "http://host%d.example.com/p/%d" % (doc_id % 50, doc_id)


def synth_linked_html(doc_id: int, n_docs: int) -> str:
    """A page whose anchors are pure arithmetic in (doc_id, n_docs) so a
    SQL oracle re-derives the expected outlink table independently:

    - header nav: ``/``, ``/a``, ``/b`` (root-relative chrome),
    - ``1 + doc_id % 4`` content links to docs ``(doc_id*7 + 13*(i+1)) %
      n_docs``, cycling through absolute / root-relative / scheme-relative
      href forms (exercising all three resolver branches), each with a
      nested ``<strong>`` in the anchor text and a no-href named anchor as
      a decoy,
    - footer: ``/c``, ``/t``.
    """
    k = 1 + doc_id % 4
    parts = [
        "<html><head><title>p%d</title></head><body>" % doc_id,
        '<header><nav><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/b">Archive</a></nav></header>',
        '<a name="top">not a link</a>',
    ]
    for i in range(k):
        t = (doc_id * 7 + 13 * (i + 1)) % n_docs
        form = (doc_id + i) % 3
        if form == 0:
            href = "http://host%d.example.com/p/%d" % (t % 50, t)
        elif form == 1:
            href = "/p/%d" % t
        else:
            href = "//host%d.example.com/p/%d" % (t % 50, t)
        parts.append(
            '<p>See <a href="%s"><strong>link</strong> %d</a> %s.</p>'
            % (href, t, _FILLER)
        )
    parts.append(
        '<footer><a href="/c">Contact</a> <a href="/t">Terms</a></footer>'
        "</body></html>"
    )
    return "".join(parts)


def expected_outlinks(doc_id: int, n_docs: int) -> list[tuple]:
    """The outlink rows :func:`extract_outlinks` must produce on
    :func:`synth_linked_html` — derived from the page RECIPE, not by
    running the extractor (mirrors maincontent.expected_main_content)."""
    src_host = "host%d.example.com" % (doc_id % 50)
    base_abs = "http://" + src_host
    rows = [
        (doc_id, 0, "/", base_abs + "/", "Home", src_host, src_host),
        (doc_id, 1, "/a", base_abs + "/a", "About", src_host, src_host),
        (doc_id, 2, "/b", base_abs + "/b", "Archive", src_host, src_host),
    ]
    k = 1 + doc_id % 4
    for i in range(k):
        t = (doc_id * 7 + 13 * (i + 1)) % n_docs
        t_host = "host%d.example.com" % (t % 50)
        form = (doc_id + i) % 3
        if form == 0:
            href = "http://%s/p/%d" % (t_host, t)
            url, hst = href, t_host
        elif form == 1:
            href = "/p/%d" % t
            url, hst = base_abs + href, src_host
        else:
            href = "//%s/p/%d" % (t_host, t)
            url, hst = "http:" + href, t_host
        rows.append(
            (doc_id, 3 + i, href, url, "link %d" % t, hst, src_host)
        )
    rows.append(
        (doc_id, 3 + k, "/c", base_abs + "/c", "Contact", src_host,
         src_host)
    )
    rows.append(
        (doc_id, 4 + k, "/t", base_abs + "/t", "Terms", src_host,
         src_host)
    )
    return rows


# ---------------------------------------------------------------------------
# PageRank (power iteration as DataFrame joins)
# ---------------------------------------------------------------------------

def edges_from_outlinks(outlinks: DataFrame) -> DataFrame:
    """(src, dst) doc-graph edges from an outlink table: links whose
    resolved url is a page url (``…/p/<id>``), self-links dropped,
    de-duplicated.  One distinct-shuffle over the (small) edge stream."""
    dst = F.regexp_extract(F.col("url"), "/p/([0-9]+)$", 1)
    return (
        outlinks.filter(dst != "")
        .select(
            F.col("src_doc").alias("src"),
            dst.cast("bigint").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(nodes: DataFrame, edges: DataFrame, iterations: int = 5,
             damping: float = 0.85,
             checkpoint_dir: str | None = None) -> DataFrame:
    """PageRank after a FIXED number of power iterations (fixed k keeps the
    result SQL-oracle-expressible as k unrolled CTE stages; convergence-
    threshold stopping would need a data-dependent trip count).

    Semantics per iteration (the classic formulation with uniform teleport
    and dangling-mass redistribution):

        pr'(v) = (1-d)/N + d * ( sum_{u->v} pr(u)/outdeg(u) + dangling/N )

    where ``dangling`` is the rank mass sitting on nodes with no
    out-edges.  Returns (doc_id, pr_e9) with pr floor-quantized to 1e-9 —
    the portable cross-engine convention (see functions/text.quality_score).

    Scale: per iteration one shuffle on ``src`` (ranks join), one on
    ``dst`` (partial-combined sum), a broadcast 1-row dangling aggregate
    (crossJoin of a 1-row frame — no driver action), and a lazy
    checkpoint to cut lineage (materialized by the next iteration's
    dangling build — one job per iteration).  N is computed once (``nodes.count()``).
    ``checkpoint_dir``: same contract as connected_components — default
    localCheckpoint (fast, executor-local, no fault tolerance), or true
    reliable checkpoint() to the given HDFS/S3 path for cluster runs.

    Broadcast timeout: because the cuts are lazy, building an iteration's
    dangling broadcast is what computes the previous iteration (its
    joins, its shuffle on ``dst`` and the cut).  In a session without
    AQE that work runs while the broadcast is awaited, so
    ``spark.sql.broadcastTimeout`` (300 s by default) bounds a whole
    iteration, not just the 1-row aggregate.  A graph whose iteration
    takes longer needs AQE or a larger timeout.
    """
    if checkpoint_dir is not None:
        nodes.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=False)
    else:
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    # nodes/edges/outdeg are read EVERY iteration — pin them once so the
    # loop never recomputes the upstream plan (for a harvested graph that
    # upstream is the whole page-parse chain: 3 reads/iter x k iters of
    # re-extraction otherwise).  All cuts are LAZY (eager=False): each
    # iteration's dangling-mass broadcast build is the first consumer of
    # the previous ranks and materializes its blocks as a side effect, so
    # the loop runs ONE job per iteration instead of two — an eager cut
    # added a dedicated blocking materialization job whose work the next
    # dangling job repeated as block reads anyway.
    nodes = _cut(nodes.select("doc_id"))
    edges = _cut(edges)
    n_nodes = nodes.count()
    outdeg = _cut(edges.groupBy("src").agg(F.count("*").alias("_od")))
    teleport = (1.0 - damping) / n_nodes

    ranks = nodes.select(
        F.col("doc_id").alias("v"), F.lit(1.0 / n_nodes).alias("pr")
    )
    src_ranks = ranks.withColumnRenamed("v", "src")
    for _ in range(iterations):
        with_deg = src_ranks.join(outdeg, "src", "left")
        dangling = (
            with_deg.filter(F.col("_od").isNull())
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm"))
        )
        contribs = (
            edges.join(
                with_deg.filter(F.col("_od").isNotNull()), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("_od")).alias("_con"))
        )
        ranks = (
            nodes.select(F.col("doc_id").alias("v"))
            .join(contribs.withColumnRenamed("dst", "v"), "v", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_con"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n_nodes))
                    )
                ).alias("pr"),
            )
        )
        ranks = _cut(ranks)
        src_ranks = ranks.withColumnRenamed("v", "src")
    return ranks.select(
        F.col("v").alias("doc_id"),
        F.floor(F.col("pr") * 1e9).cast("long").alias("pr_e9"),
    )


# ---------------------------------------------------------------------------
# Anchor-text aggregation (the classic web-IR inlink signal)
# ---------------------------------------------------------------------------

def anchor_stats(outlinks: DataFrame) -> DataFrame:
    """Per-target inlink statistics from an outlink table: how many pages
    link to each url, from how many distinct hosts, and the
    lexicographically-first anchor text (a deterministic representative —
    production ranks anchors by frequency; min() keeps the aggregation a
    single pass and the result engine-independent).

    The classic use at corpus scale: anchor text is the highest-precision
    description of the TARGET page (search engines index it; quality
    filters boost pages with many distinct-host inlinks).  ONE shuffle on
    the target url with full map-side partial aggregation —
    count/count_distinct/min all combine; distinct-host counting uses an
    exact count(distinct) here (per-url host fan-in is bounded); switch to
    approx_count_distinct at web scale where a url can have 10^8 inlinks.

    ``n_src_hosts`` counts distinct SOURCE-page hosts (src_host), not the
    target's own host column — grouping by url makes the latter a constant
    1 per group (the round-3 advisory bug).
    """
    return (
        outlinks.groupBy(F.col("url").alias("target_url"))
        .agg(
            F.count("*").alias("n_inlinks"),
            F.countDistinct(F.col("src_host")).alias("n_src_hosts"),
            F.min("anchor").alias("first_anchor"),
        )
    )


def hits(nodes: DataFrame, edges: DataFrame, iterations: int = 4,
         checkpoint_dir: str | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) after a FIXED number of
    mutual-reinforcement iterations, L1-normalized (sum-to-one keeps the
    update sqrt-free, so every stage is exact relational algebra and the
    whole run unrolls into SQL-oracle CTE stages like pagerank's):

        a'(v) = sum_{u->v} h(u), then a := a' / sum(a')
        h'(u) = sum_{u->v} a(v), then h := h' / sum(h')

    Returns (doc_id, hub_e9, auth_e9), floor-quantized.  Authorities
    rank pages many good hubs point to (canonical sources); hubs rank
    link pages — both are crawl-prioritization signals PageRank's single
    score conflates.

    Scale: per iteration one shuffle keyed on dst (authority sum) and
    one on src (hub sum), both partial-combined; normalization is a
    1-row broadcast aggregate; a per-iteration lazy checkpoint cuts the
    lineage (materialized by the next normalizer build).  nodes/edges are pinned once before the loop (the repo's
    multi-consumer rule).  ``checkpoint_dir`` has the pagerank /
    connected_components contract: None -> localCheckpoint, path ->
    reliable checkpoint() for cluster runs.

    Broadcast timeout: as in :func:`pagerank`, building an iteration's
    normaliser broadcast computes the previous iteration behind its lazy
    cut, so in a session without AQE ``spark.sql.broadcastTimeout``
    (300 s by default) bounds a whole iteration.
    """
    if checkpoint_dir is not None:
        nodes.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=False)
    else:
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    # LAZY cuts, same rationale as pagerank: each iteration's normalizer
    # broadcast builds are the first consumers of the previous state and
    # materialize its blocks, so no dedicated blocking checkpoint job.
    nodes = _cut(nodes.select("doc_id"))
    edges = _cut(edges)
    n_nodes = nodes.count()

    h = nodes.select(
        F.col("doc_id").alias("v"), F.lit(1.0 / n_nodes).alias("h")
    )
    state = None
    for _ in range(iterations):
        a_raw = (
            edges.join(h.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("_ar"))
        )
        s_a = a_raw.agg(F.sum("_ar").alias("_s"))
        a = (
            nodes.select(F.col("doc_id").alias("v"))
            .join(a_raw.withColumnRenamed("dst", "v"), "v", "left")
            .crossJoin(F.broadcast(s_a))
            .select(
                "v",
                (F.coalesce(F.col("_ar"), F.lit(0.0))
                 / F.col("_s")).alias("a"),
            )
        )
        h_raw = (
            edges.join(a.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("_hr"))
        )
        s_h = h_raw.agg(F.sum("_hr").alias("_s"))
        h_new = (
            nodes.select(F.col("doc_id").alias("v"))
            .join(h_raw.withColumnRenamed("src", "v"), "v", "left")
            .crossJoin(F.broadcast(s_h))
            .select(
                "v",
                (F.coalesce(F.col("_hr"), F.lit(0.0))
                 / F.col("_s")).alias("h"),
            )
        )
        # ONE lineage cut per iteration: h and a land in the same
        # materialized frame (the a used inside this iteration's h
        # update keeps its shallow within-iteration lineage — only the
        # iteration boundary needs cutting, halving checkpoint jobs)
        state = _cut(h_new.join(a, "v"))
        h = state.select("v", "h")
    return state.select(
        F.col("v").alias("doc_id"),
        F.floor(F.col("h") * 1e9).cast("long").alias("hub_e9"),
        F.floor(F.col("a") * 1e9).cast("long").alias("auth_e9"),
    )


def host_graph(outlinks: DataFrame, src_col: str = "src_host",
               dst_col: str = "host") -> DataFrame:
    """Host-level webgraph rollup of the page-level outlink harvest —
    the aggregation Common Crawl publishes as its host webgraph and
    the granularity domain-reputation / spam-farm analysis runs at.

    Returns (src_host, dst_host, n_links, n_src_pages, n_dst_urls,
    intra_host): total edge multiplicity, how many distinct source
    pages and distinct target urls carry it, and whether the edge is a
    self-loop at host granularity (site chrome: nav/footer links).

    Scale shape (10^12 edges): ONE aggregate keyed (src_host,
    dst_host) — the host-pair universe is ~linear in hosts, and even a
    mega-host pair holds one output row.  The two exact distinct
    counts make Spark plan an Expand (3x the pre-shuffle rows) — still
    map-side partially aggregated and pair-keyed; at the extreme tail
    swap them for approx_count_distinct (HLL, one pass) — this keeps
    the exact variant because the oracle is exact.  No window, no
    join, no few-key shuffle.
    """
    return (
        outlinks.groupBy(
            F.col(src_col).alias("src_host"),
            F.col(dst_col).alias("dst_host"),
        )
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("src_doc").alias("n_src_pages"),
            F.countDistinct("url").alias("n_dst_urls"),
        )
        .withColumn(
            "intra_host", F.col("src_host") == F.col("dst_host")
        )
    )


def host_degrees(edges: DataFrame, src_col: str = "src_host",
                 dst_col: str = "dst_host",
                 weight_col: str = "n_links") -> DataFrame:
    """Per-host degree profile over the host webgraph (the
    :func:`host_graph` rollup): for every host appearing on either
    side, (host, out_deg, in_deg, n_out_links, n_in_links) — distinct
    neighbor counts plus weighted link totals, self-loops excluded
    from BOTH sides (site chrome isn't connectivity).

    The degree distribution is the spam-farm / link-scheme detector's
    first input (farms: huge out_deg, near-zero in_deg; hubs the
    reverse) and the PageRank-convergence sanity check.

    Scale shape: two map-combined aggregates (one src-keyed, one
    dst-keyed — each emits ONE row per host) and a full-outer equi
    join of the two host-sized results; AQE broadcasts when one side
    is small.  No window, no skew exposure beyond the host key itself
    — a mega-host is still one row out of each agg."""
    e = edges.filter(F.col(src_col) != F.col(dst_col))
    out = e.groupBy(F.col(src_col).alias("host")).agg(
        F.countDistinct(dst_col).alias("out_deg"),
        F.sum(weight_col).alias("n_out_links"),
    )
    inn = e.groupBy(F.col(dst_col).alias("host")).agg(
        F.countDistinct(src_col).alias("in_deg"),
        F.sum(weight_col).alias("n_in_links"),
    )
    z = F.lit(0).cast("long")
    return out.join(inn, "host", "full_outer").select(
        "host",
        F.coalesce(F.col("out_deg"), z).alias("out_deg"),
        F.coalesce(F.col("in_deg"), z).alias("in_deg"),
        F.coalesce(F.col("n_out_links"), z).alias("n_out_links"),
        F.coalesce(F.col("n_in_links"), z).alias("n_in_links"),
    )


def reciprocal_link_stats(edges: DataFrame, src_col: str = "src_host",
                          dst_col: str = "dst_host") -> DataFrame:
    """Per-host link reciprocity — the classic link-exchange / spam-farm
    signal (TrustRank-adjacent: organic hosts have low reciprocity,
    farms that trade links approach 1.0).  For each source host: the
    number of DISTINCT outbound neighbor hosts, how many of those link
    back, and the e6-floored reciprocity ratio.  Self-loops are
    excluded before counting.

    Scale: dedup to distinct directed pairs (one (src,dst)-keyed
    map-combined shuffle — a mega-host contributes one row per
    neighbor, not per link), then a left-semi self-join against the
    REVERSED pair set (both sides hash on their pair key, so the
    exchange spreads by neighbor, never by host), then one src-keyed
    map-combined rollup.  No window, no broadcast of anything
    host-sized."""
    src, dst = F.col(src_col), F.col(dst_col)
    pairs = (
        edges.filter(src != dst).select(src_col, dst_col).distinct()
    )
    rev = pairs.select(
        F.col(dst_col).alias(src_col), F.col(src_col).alias(dst_col)
    )
    recip = pairs.join(rev, [src_col, dst_col], "left_semi")
    out = pairs.groupBy(src_col).agg(
        F.count("*").cast("long").alias("n_out")
    )
    rc = recip.groupBy(src_col).agg(
        F.count("*").cast("long").alias("n_recip")
    )
    return (
        out.join(rc, src_col, "left")
        .select(
            src_col, "n_out",
            F.coalesce(F.col("n_recip"), F.lit(0)).cast("long")
            .alias("n_recip"),
        )
        .withColumn(
            "reciprocity_e6",
            F.floor(
                1e6 * F.col("n_recip").cast("double")
                / F.col("n_out").cast("double")
            ).cast("long"),
        )
    )


def anchor_text_agg(outlinks: DataFrame, k: int = 5,
                    bucket_nibbles: int = 2,
                    sep: str = " | ") -> DataFrame:
    """Per-target anchor-text pseudo-document: the top-``k`` DISTINCT
    inbound anchors by (frequency DESC, text ASC), joined into one
    string — the classic web-IR enrichment (anchor text describes the
    TARGET better than the target describes itself; search engines
    index it, and it makes strong query->doc training pairs).

    Exact top-k without a skewed window: (1) ONE map-combined groupBy
    on (target, anchor) collapses the inlink stream to distinct
    anchors; (2) rank within (target, md5(anchor)-bucket) and keep k
    per bucket — every window partition is ~1/256th of even a
    mega-target's anchor set; (3) re-rank the <= 256*k survivors per
    target (tiny partitions).  Stage-2 correctness: the global top-k
    by (n DESC, anchor ASC) is a subset of the union of per-bucket
    top-k's, so the cut loses nothing.  Same two-stage shape as
    bm25_topk's salted ranking.

    Returns (target_url, n_anchors, n_inlinks_top, anchor_text) with
    anchor_text ordered by final rank — deterministic because
    (n DESC, anchor ASC) totally orders distinct anchors."""
    from pyspark.sql.window import Window

    cnt = (
        outlinks.groupBy(
            F.col("url").alias("target_url"), F.col("anchor")
        ).agg(F.count("*").alias("n"))
    )
    bkt = F.substring(F.md5(F.col("anchor")), 1, bucket_nibbles)
    w1 = Window.partitionBy("target_url", "_b").orderBy(
        F.col("n").desc(), F.col("anchor").asc()
    )
    s1 = (
        cnt.withColumn("_b", bkt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
    )
    w2 = Window.partitionBy("target_url").orderBy(
        F.col("n").desc(), F.col("anchor").asc()
    )
    s2 = (
        s1.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= k)
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("_r"), F.col("anchor")))
    )
    return s2.groupBy("target_url").agg(
        F.count("*").alias("n_anchors"),
        F.sum("n").alias("n_inlinks_top"),
        F.array_join(
            F.transform(ordered, lambda s: s["anchor"]), sep
        ).alias("anchor_text"),
    )
