"""Crawl-snapshot diffing (incremental recrawl processing).

At 100 TB you never reprocess a whole crawl: successive snapshots overlap
~90%+, so the unit of work is the DELTA — pages that appeared, vanished,
or changed content between snapshot N-1 and N.  ``crawl_diff`` computes
that delta as ONE full-outer join on the page key; its added + changed
rows are what an incremental extract has to touch.

Scale notes: the join shuffles both snapshots on the key unless they are
bucketed — write snapshots with the bucketed layout from sources/pages
(``write_pages_bucketed``) and the diff runs with ZERO exchanges (the
same zero-Exchange property tests/test_plans.py gates for the join path).
Content comparison is by digest (md5 here, the repo-wide portable-hash
convention), never by comparing page bodies across the shuffle — the
diff moves 2 small columns per row, not the corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_diff(old: DataFrame, new: DataFrame, key_col: str = "url",
               digest_col: str | None = None,
               text_col: str = "text") -> DataFrame:
    """(key, status, old_digest, new_digest) with status in
    {'added', 'removed', 'changed', 'unchanged'}.

    ``digest_col`` names a precomputed content digest; when absent the
    digest is md5(text) computed map-side BEFORE the join, so only
    (key, 32-char digest) ever shuffles.
    """
    def prep(df: DataFrame, out: str) -> DataFrame:
        if digest_col is not None:
            d = F.col(digest_col)
        else:
            d = F.md5(F.col(text_col))
        return df.select(F.col(key_col).alias("_k"), d.alias(out))

    o = prep(old, "old_digest")
    n = prep(new, "new_digest")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "_k", "full_outer").select(
        F.col("_k").alias(key_col),
        status.alias("status"),
        "old_digest",
        "new_digest",
    )


def crawl_frontier(outlinks: DataFrame, crawled: DataFrame,
                   url_col: str = "url") -> DataFrame:
    """The next crawl frontier: distinct outlink targets not yet crawled,
    with their inlink count as a crawl-priority signal (more inlinks =
    crawl sooner — the classic frontier ordering).

    Plan: ONE partially-combined shuffle on the target url (distinct +
    count fused into a single groupBy), then an anti-join against the
    crawled set — AQE broadcasts the smaller side; at web scale the
    crawled set is the big side, so the frontier (post-aggregation, one
    row per NEW url) is the one that moves."""
    return (
        outlinks.groupBy(F.col("url"))
        .agg(F.count("*").alias("n_inlinks"))
        .join(
            crawled.select(F.col(url_col).alias("url")),
            "url",
            "left_anti",
        )
    )


def parse_robots_rules(robots: DataFrame, host_col: str = "host",
                       txt_col: str = "robots_txt",
                       agent: str = "*") -> DataFrame:
    """Parse per-host robots.txt bodies into (host, is_allow, prefix,
    rule_len, anchored, has_wild, pattern) rows governing ``agent`` —
    RFC 9309's grouped format expressed relationally:

    - ``#`` comments are stripped to end-of-line BEFORE any matching
      (a ``Disallow: /private  # staff`` rule governs ``/private``).
    - A group's start-of-group header is EVERY consecutive User-agent
      line (RFC 9309 §2.1): group ids come from a running sum of
      "User-agent line not preceded by another User-agent line" (one
      host-keyed window), rules join their group, and a group governs
      ``agent`` when ANY of its User-agent lines names it — so
      ``User-agent: *`` followed by ``User-agent: bot`` binds both.
    - Most-specific-agent precedence: when a host has a group naming
      ``agent`` exactly (case-insensitive), its ``*`` groups are
      ignored for that agent; with the default ``agent='*'`` the two
      sets coincide.
    - The MUST-level ``*`` / ``$`` wildcards are translated to a match
      predicate: ``has_wild`` rules carry an anchored Java regex in
      ``pattern`` (specials escaped, ``*`` -> ``.*``); a trailing
      ``$`` sets ``anchored`` (exact-match for literal rules).
      ``rule_len`` is the octet length of the raw rule text including
      wildcard characters — the RFC's specificity order.

    Empty Disallow (allow-all) rows drop out naturally as zero-length
    paths are filtered.  One host-keyed shuffle for the group-id
    window; everything else is column expressions."""
    from pyspark.sql.window import Window

    lines = robots.select(
        host_col,
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("pos", "raw"),
    ).select(
        host_col, "pos",
        # comments strip to EOL, then trim — RFC 9309 §2.2.4
        F.trim(F.regexp_replace(F.col("raw"), "#.*", "")).alias("line"),
    )
    low = F.lower(F.col("line"))
    is_ua = low.startswith("user-agent:")
    w_host = Window.partitionBy(host_col).orderBy("pos")
    prev_ua = F.lag(is_ua, 1, False).over(w_host)
    grp = F.sum(
        F.when(is_ua & ~F.coalesce(prev_ua, F.lit(False)), 1).otherwise(0)
    ).over(
        w_host.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = lines.select(
        host_col, "line", is_ua.alias("_is_ua"), grp.alias("_grp")
    ).filter(F.col("_grp") > 0)

    ua_token = F.lower(F.trim(F.substring(F.col("line"), 12, 10_000)))
    uas = tagged.filter("_is_ua").select(
        host_col, "_grp", ua_token.alias("_ua")
    )
    agent_lc = agent.lower()
    specific = uas.filter(F.col("_ua") == agent_lc)
    star = uas.filter(F.col("_ua") == "*")
    if agent_lc == "*":
        governing = star.select(host_col, "_grp").distinct()
    else:
        governing = specific.select(host_col, "_grp").distinct().unionAll(
            star.select(host_col, "_grp").join(
                specific.select(host_col).distinct(), host_col,
                "left_anti",
            )
        ).distinct()

    rule = F.when(low.startswith("allow:"), F.lit(True)).when(
        low.startswith("disallow:"), F.lit(False)
    )
    raw_path = F.when(
        low.startswith("allow:"),
        F.trim(F.substring(F.col("line"), 7, 10_000)),
    ).otherwise(F.trim(F.substring(F.col("line"), 10, 10_000)))
    rules = (
        tagged.filter(~F.col("_is_ua"))
        .select(
            host_col, "_grp",
            rule.alias("is_allow"), raw_path.alias("_raw"),
        )
        .filter(F.col("is_allow").isNotNull() & (F.col("_raw") != ""))
        .join(governing, [host_col, "_grp"], "left_semi")
    )
    anchored = F.col("_raw").endswith("$")
    body = F.when(
        anchored, F.expr("substring(_raw, 1, length(_raw) - 1)")
    ).otherwise(F.col("_raw"))
    # Java regex: escape specials (incl. non-trailing $), then * -> .*
    esc = F.regexp_replace(
        body, "([\\\\.\\[\\]{}()+?^|$])", "\\\\$1"
    )
    pattern = F.concat(
        F.lit("^"), F.regexp_replace(esc, "\\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return rules.select(
        host_col,
        "is_allow",
        body.alias("prefix"),
        F.length("_raw").alias("rule_len"),
        anchored.alias("anchored"),
        body.contains("*").alias("has_wild"),
        pattern.alias("pattern"),
    )


def robots_allowed(pages: DataFrame, rules: DataFrame,
                   host_col: str = "host",
                   path_col: str = "path") -> DataFrame:
    """Evaluate crawlability per page under the longest-match rule
    (RFC 9309 / Google semantics: the most specific — longest —
    matching rule decides; on equal length Allow wins; no matching
    rule means allowed).

    One equi-join on host (the per-host rule set is small — broadcast
    when the robots table fits, AQE otherwise) with the match predicate
    as the join filter, then a page-keyed max(struct(len, is_allow)) —
    struct ordering gives both longest-match and the allow-on-tie rule
    for free.  Literal rules (the overwhelming real-world case) match
    via startswith/equality and stay in whole-stage codegen; only
    ``has_wild`` rules pay the per-pair regex."""
    match = (
        F.when(F.col("has_wild"),
               F.regexp_like(F.col(path_col), F.col("pattern")))
        .when(F.col("anchored"), F.col(path_col) == F.col("prefix"))
        .otherwise(F.col(path_col).startswith(F.col("prefix")))
    )
    j = pages.join(
        rules,
        (pages[host_col] == rules[host_col]) & match,
        "left",
    ).select(
        pages[host_col].alias("host"), F.col(path_col),
        F.when(
            F.col("rule_len").isNotNull(),
            F.struct(F.col("rule_len"), F.col("is_allow")),
        ).alias("_m"),
    )
    return (
        j.groupBy("host", path_col)
        .agg(F.max("_m").alias("_best"))
        .select(
            "host", path_col,
            F.coalesce(F.col("_best.is_allow"), F.lit(True))
                .alias("allowed"),
        )
    )


def politeness_schedule(frontier: DataFrame, crawl_delay_s: int = 5,
                        n_workers: int = 64, host_col: str = "host",
                        url_col: str = "url") -> DataFrame:
    """Turn a crawl frontier into a POLITE fetch schedule: per host,
    URLs fetch one ``crawl_delay_s`` apart (RFC 9309 Crawl-delay /
    politeness convention — never hammer a host), and every host is
    pinned to ONE worker (same-host serialization is what makes the
    delay meaningful; md5-hash assignment, no coordination).

    Returns (url, host, slot, fetch_at_s, worker): slot is the URL's
    deterministic per-host position (md5(url) order — seedless uniform
    shuffle so deep hosts interleave fairly rather than alphabetically),
    fetch_at_s = slot * crawl_delay_s (integer arithmetic, exact), and
    worker = md5-bucket of the host.

    Scale shape: the only shuffle is the per-host row_number window —
    bounded by frontier depth per host, which a real scheduler caps
    upstream (domain_caps); the worker bucket is a pure column
    expression.  A 10^6-URL host is that host's OWN serial fetch queue
    — the partition equals the work unit by construction, so the skew
    IS the schedule, not a plan defect."""
    from pyspark.sql.window import Window

    key = F.md5(F.col(url_col))
    w = Window.partitionBy(host_col).orderBy(key.asc(),
                                             F.col(url_col).asc())
    slot = (F.row_number().over(w) - 1).cast("long")
    worker = (
        F.conv(F.substring(F.md5(F.col(host_col)), 1, 4), 16, 10)
        .cast("long") % n_workers
    ).cast("int")
    return frontier.select(
        url_col, host_col,
        slot.alias("slot"),
        (slot * crawl_delay_s).alias("fetch_at_s"),
        worker.alias("worker"),
    )


def parse_sitemap(df: DataFrame, xml_col: str = "xml",
                  id_col: str = "doc_id") -> DataFrame:
    """Parse sitemaps.org XML (the crawl-discovery channel robots.txt
    points at): one row per ``<url>`` entry (kind='url') or
    ``<sitemap>`` index entry (kind='sitemap'), with loc / lastmod /
    changefreq / priority (NULL when the optional tag is absent).
    Entry values are extracted verbatim as strings — priority/lastmod
    typing is the caller's policy (a recrawl scheduler parses lastmod,
    a frontier ranks by priority).

    Pure JVM: block split = ``regexp_extract_all`` with a reluctant
    ``(?s)<url>.*?</url>`` (tag names are anchored by '>' so
    ``<urlset>``/``<sitemapindex>`` wrappers can't match), field pull =
    per-block ``regexp_extract`` — zero Python, codegen-resident, one
    generator explode and no shuffle at all.  Malformed blocks yield
    NULL fields, never a failure (crawl inputs are hostile)."""
    def _entries(kind: str, tag: str) -> DataFrame:
        block = F.explode(
            F.regexp_extract_all(
                F.col(xml_col),
                F.lit("(?s)<%s>.*?</%s>" % (tag, tag)), F.lit(0),
            )
        ).alias("_b")
        f = lambda t: F.nullif(  # noqa: E731
            F.regexp_extract("_b", "<%s>([^<]*)</%s>" % (t, t), 1),
            F.lit(""),
        ).alias(t if t != "loc" else "loc")
        return df.select(F.col(id_col), block).select(
            id_col, F.lit(kind).alias("kind"),
            f("loc"), f("lastmod"), f("changefreq"), f("priority"),
        )

    return _entries("url", "url").unionByName(
        _entries("sitemap", "sitemap")
    )


def robots_sitemaps(robots: DataFrame, host_col: str = "host",
                    body_col: str = "body") -> DataFrame:
    """Extract ``Sitemap:`` directives from robots.txt bodies — the
    discovery handshake: robots.txt names the sitemaps, parse_sitemap
    expands them into the frontier.  Per RFC 9309 §2.3 the directive
    is group-independent (valid anywhere in the file) and repeatable,
    so this is a flat scan, not group parsing: one
    ``regexp_extract_all`` over lines (case-insensitive key, trailing
    comments stripped), one generator explode, zero shuffles.
    Returns (host, sitemap_url), one row per directive."""
    urls = F.regexp_extract_all(
        F.col(body_col),
        F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\r\n]*)"), F.lit(1),
    )
    return robots.select(
        F.col(host_col),
        F.explode(urls).alias("_u"),
    ).select(
        host_col, F.trim(F.col("_u")).alias("sitemap_url")
    ).filter(F.col("sitemap_url") != "")


def recrawl_priority(latest: DataFrame, now_ts: int = 20250101000000,
                     min_score_e6: int = 0) -> DataFrame:
    """Rank urlkeys for the NEXT crawl from their capture history (the
    latest_captures table): pages that changed often (digest variety /
    capture count) and haven't been fetched recently score high —
    the classic change-frequency estimator (Cho & Garcia-Molina 2003)
    in its integer-exact form:

        change_rate_e6 = (n_digests - 1) * 1e6 div (n_captures - 1)
                         (0 when a single capture — no evidence)
        age_ord        = staleness as the difference of 8-digit date
                         prefixes (a monotone ordinal, NOT calendar
                         days — cheap, sort-order-correct)
        score_e6       = change_rate_e6 * age_ord

    Pure column arithmetic over the collapsed index — zero shuffles;
    the consumer sorts/thresholds (a pushed-down filter at corpus
    scale, same policy split as ppl_buckets' thresholds path).
    Returns (urlkey, url, change_rate_e6, age_ord, score_e6).
    """
    days = (
        F.lit(int(str(now_ts)[:8]))
        - F.substring(F.col("latest_ts"), 1, 8).cast("long")
    )
    rate = F.when(
        F.col("n_captures") > 1,
        (F.col("n_digests") - 1) * 1000000
        / (F.col("n_captures") - 1),
    ).otherwise(F.lit(0))
    rate_i = F.floor(rate).cast("long")
    return latest.select(
        "urlkey", "url",
        rate_i.alias("change_rate_e6"),
        days.alias("age_ord"),
        (rate_i * days).alias("score_e6"),
    ).filter(F.col("score_e6") >= min_score_e6)


def robots_compliance(fetches: DataFrame, rules: DataFrame,
                      host_col: str = "host",
                      path_col: str = "path") -> DataFrame:
    """Post-hoc crawl governance audit: which fetched urls VIOLATED the
    host's robots rules, rolled up per host — the report a responsible
    crawl operation publishes against its own fetch log (robots files
    change, crawlers have bugs, and a corpus built from violating
    fetches carries takedown risk).

    Verdicts come from :func:`robots_allowed` (longest-match RFC 9309
    evaluation over DISTINCT (host, path) pairs — refetches of one url
    count once), then ONE host-keyed map-combined groupBy.  Returns
    (host, n_fetched, n_violations, violation_rate_e6,
    sample_violation) with sample_violation the lexicographic-min
    violating path (a deterministic witness for the audit trail, NULL
    when clean)."""
    v = robots_allowed(fetches, rules, host_col, path_col)
    viol = (~F.col("allowed")).cast("long")
    agg = v.groupBy("host").agg(
        F.count("*").alias("n_fetched"),
        F.sum(viol).alias("n_violations"),
        F.min(F.when(~F.col("allowed"), F.col(path_col)))
        .alias("sample_violation"),
    )
    return agg.select(
        "host", "n_fetched", "n_violations",
        F.floor(F.lit(1000000) * F.col("n_violations")
                / F.col("n_fetched")).cast("long")
        .alias("violation_rate_e6"),
        "sample_violation",
    )
