"""Spark wiring for DOM-heuristic main-content extraction.

Same plan slot as the cascade: a stateless per-document map
(functions/udf.doc_map) with zero shuffles; when page sizes are skewed,
spread the pages first as the extract does
(``plans.extract.partition_for_cascade``).  The per-document logic lives in
:mod:`htmlcleanup_spark.engine.maincontent` and is pure/testable without
Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..engine.maincontent import main_content
from ..functions.udf import doc_map


def extract_main_content(df: DataFrame, html_col: str = "html",
                         id_col: str = "doc_id") -> DataFrame:
    """html pages → (id, main_text, n_blocks, n_good, error)."""
    return doc_map(
        df, main_content, [html_col],
        "main_text string, n_blocks int, n_good int, error string",
        carry=[id_col],
    )


def page_metadata(df: DataFrame, html_col: str = "html"):
    """Head-section metadata as pure JVM column regexps (the complement
    of :func:`extract_main_content`'s DOM pass — zero Python, zero
    shuffles, pipelined into the scan):

    - ``title``: first ``<title>`` body, inner whitespace collapsed and
      trimmed;
    - ``meta_description``: content of ``<meta name="description">``
      (quoting/order variants per functions/robots._attr);
    - ``n_h1``: count of ``<h1`` open tags (multiple h1s = a structure
      smell the quality filters use);
    - ``first_h1``: first ``<h1>`` body, same normalization as title.

    Regexes live in the Java∩RE2 dialect so the SQL oracle twin matches
    byte for byte."""
    from pyspark.sql import functions as F

    c = F.col(html_col)

    def _clean(x):
        return F.trim(F.regexp_replace(x, "\\s+", " "))

    title = _clean(F.regexp_extract(
        c, "(?is)<title[^>]*>(.*?)</title>", 1
    ))
    meta_tag = F.regexp_extract(
        c,
        "(?i)<meta\\b[^>]*\\bname\\s*=\\s*[\"']?description[\"']?[^>]*>",
        0,
    )
    desc = F.when(
        F.regexp_extract(meta_tag, "(?i)\\bcontent\\s*=\\s*\"([^\"]*)\"",
                         1) != "",
        F.regexp_extract(meta_tag, "(?i)\\bcontent\\s*=\\s*\"([^\"]*)\"",
                         1),
    ).otherwise(
        F.regexp_extract(meta_tag, "(?i)\\bcontent\\s*=\\s*'([^']*)'", 1)
    )
    n_h1 = F.size(F.split(F.lower(c), "<h1[ >]", -1)) - 1
    first_h1 = _clean(F.regexp_extract(
        c, "(?is)<h1[^>]*>(.*?)</h1>", 1
    ))
    return df.withColumns({
        "title": title,
        "meta_description": desc,
        "n_h1": n_h1,
        "first_h1": first_h1,
    })


def image_alt_pairs(df: DataFrame, html_col: str = "html",
                    host_col: str = "host",
                    id_col: str = "doc_id") -> DataFrame:
    """Image/alt-text pair harvesting — the LAION-style mining step
    that turns a web corpus into (image url, caption) training pairs:
    every ``<img>`` tag with BOTH a src and a non-empty alt yields one
    row (doc_id, seq, img_url, alt), seq the tag's position among the
    page's img tags.

    src resolution is the 3-branch scheme used by the outlink
    harvester: absolute (any scheme) kept, protocol-relative gets
    ``https:``, site-absolute/relative joins the page host over https.
    Attribute quoting variants (double/single/bare) via the shared
    functions/robots helper.

    Scale shape: pure JVM — one regexp_extract_all + posexplode
    generator, attribute pulls and resolution as codegen expressions;
    zero Python, ZERO shuffles (rides the scan partitioning; the
    downstream image fetcher groups by img host for politeness, which
    is ITS shuffle, not this one's).
    """
    from pyspark.sql import functions as F

    from ..functions.robots import _attr

    tags = F.regexp_extract_all(
        F.col(html_col), F.lit("(?i)<img\\b[^>]*>"), F.lit(0)
    )
    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("_host"),
        F.posexplode(tags).alias("seq", "_tag"),
    )
    src = _attr(F.col("_tag"), "src")
    alt = _attr(F.col("_tag"), "alt")
    img_url = (
        F.when(src.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), src)
        .when(src.startswith("//"), F.concat(F.lit("https:"), src))
        .when(src.startswith("/"),
              F.concat(F.lit("https://"), F.col("_host"), src))
        .otherwise(
            F.concat(F.lit("https://"), F.col("_host"), F.lit("/"), src)
        )
    )
    return (
        e.withColumn("_src", src)
        .withColumn("alt", alt)
        .filter((F.col("_src") != "") & (F.col("alt") != ""))
        .select("doc_id", "seq", img_url.alias("img_url"), "alt")
    )


def table_extract(df: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id") -> DataFrame:
    """HTML table mining — the web-table corpus harvest (TURL /
    WikiTables-style): every ``<table>`` flattens to one row per cell,
    (doc_id, table_idx, row_idx, col_idx, cell_text, is_header), with
    inner markup stripped and whitespace collapsed.

    Scale shape: three chained JVM regex extract-all + posexplode
    generators (table -> tr -> td/th) — zero Python, ZERO shuffles,
    output volume is the cell count.  Nested/malformed tables degrade
    softly: the non-greedy ``</table>`` match closes an inner table at
    its first close tag (the common-crawl reality; a DOM-fidelity pass
    is the engine cascade's job, THIS op is the bulk structured-data
    miner).
    """
    from pyspark.sql import functions as F

    tables = F.regexp_extract_all(
        F.col(html_col), F.lit("(?is)<table\\b.*?</table>"), F.lit(0)
    )
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tables).alias("table_idx", "_tbl"),
    )
    rows = F.regexp_extract_all(
        F.col("_tbl"), F.lit("(?is)<tr\\b.*?</tr>"), F.lit(0)
    )
    r = t.select(
        "doc_id", "table_idx",
        F.posexplode(rows).alias("row_idx", "_row"),
    )
    cells = F.regexp_extract_all(
        F.col("_row"), F.lit("(?is)<t[dh]\\b[^>]*>(.*?)</t[dh]>"),
        F.lit(1),
    )
    c = r.select(
        "doc_id", "table_idx", "row_idx",
        F.col("_row").rlike("(?i)<th\\b").alias("is_header"),
        F.posexplode(cells).alias("col_idx", "_cell"),
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_cell"), "<[^>]*>", ""),
            "\\s+", " ",
        )
    )
    return c.select(
        "doc_id", "table_idx", "row_idx", "col_idx",
        text.alias("cell_text"), "is_header",
    )


def code_blocks(df: DataFrame, html_col: str = "html",
                id_col: str = "doc_id") -> DataFrame:
    """Code-block mining — the web-sourced code-corpus harvest (how
    Stack-style datasets pull code out of tutorials/docs/forums): every
    ``<pre>`` block yields (doc_id, seq, lang, code, n_lines), ``lang``
    from the conventional ``language-<x>`` class hint ('' when absent),
    ``code`` with the wrapper ``<pre>``/``<code>`` tags dropped and the
    five standard HTML entities decoded (&amp; LAST, per the spec, so
    double-escapes survive single decode).

    Scale shape: one JVM regex extract-all + posexplode generator and a
    codegen chain of literal replaces — zero Python, ZERO shuffles.
    """
    from pyspark.sql import functions as F

    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit("(?is)<pre\\b[^>]*>.*?</pre>"), F.lit(0)
    )
    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(blocks).alias("seq", "_blk"),
    )
    lang = F.regexp_extract(
        F.col("_blk"), "(?i)language-([a-zA-Z0-9_+#-]+)", 1
    )
    code = F.regexp_replace(
        F.col("_blk"), "(?is)</?pre\\b[^>]*>|</?code\\b[^>]*>", ""
    )
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")]:
        code = F.replace(code, F.lit(ent), F.lit(ch))
    # trim ALL whitespace (Spark's trim is space-only; pre blocks start
    # with the newline after the open tag)
    code = F.regexp_replace(code, "^\\s+|\\s+$", "")
    return e.select(
        "doc_id", "seq", lang.alias("lang"), code.alias("code"),
        F.size(F.split(code, "\n")).alias("n_lines"),
    )


def social_meta(df: DataFrame, html_col: str = "html",
                id_col: str = "doc_id") -> DataFrame:
    """OpenGraph + feed discovery — the head-metadata pulls a web
    pipeline mines beside title/description: ``og:title`` /
    ``og:image`` / ``og:description`` (the Facebook-spec social card,
    a second image-caption source beside <img alt>) and the first
    RSS/Atom ``<link rel=alternate>`` feed url (what a crawler
    registers for change discovery).

    Returns (doc_id, og_title, og_image, og_description, feed_url),
    '' where absent.  Pure JVM: one anchored regex per field over the
    raw html via the shared quote-variant attribute puller — zero
    Python, zero shuffles, codegen-resident like page_metadata.
    """
    from pyspark.sql import functions as F

    from ..functions.robots import _attr

    c = F.col(html_col)

    def og(prop):
        tag = F.regexp_extract(
            c,
            "(?is)<meta\\b[^>]*\\bproperty\\s*=\\s*[\"']?og:%s[\"']?"
            "[^>]*>" % prop,
            0,
        )
        return _attr(tag, "content")

    feed_tag = F.regexp_extract(
        c,
        "(?is)<link\\b[^>]*\\btype\\s*=\\s*[\"']?application/"
        "(?:rss|atom)\\+xml[\"']?[^>]*>",
        0,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        og("title").alias("og_title"),
        og("image").alias("og_image"),
        og("description").alias("og_description"),
        _attr(feed_tag, "href").alias("feed_url"),
    )


def jsonld_meta(df: DataFrame, html_col: str = "html",
                id_col: str = "doc_id") -> DataFrame:
    """schema.org JSON-LD harvesting — the third head-metadata family
    beside <meta name=...> (page_metadata) and OpenGraph (social_meta),
    and the backbone of article/recipe/product web datasets: every
    ``<script type="application/ld+json">`` block yields (doc_id, seq,
    ld_type, name) — ``@type`` plus the first of name/headline.

    Scale shape: one JVM regex generator + ``from_json`` (PERMISSIVE:
    a malformed block yields NULL fields, never a failed task) — zero
    Python, zero shuffles.  Pull more schema.org fields by widening the
    DDL, the plan shape is unchanged.
    """
    from pyspark.sql import functions as F

    blocks = F.regexp_extract_all(
        F.col(html_col),
        F.lit("(?is)<script\\b[^>]*type\\s*=\\s*[\"']application/"
              "ld\\+json[\"'][^>]*>(.*?)</script>"),
        F.lit(1),
    )
    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(blocks).alias("seq", "_json"),
    )
    parsed = F.from_json(
        F.col("_json"), "`@type` string, name string, headline string"
    )
    return e.select(
        "doc_id", "seq",
        F.coalesce(parsed["@type"], F.lit("")).alias("ld_type"),
        F.coalesce(parsed["name"], parsed["headline"], F.lit(""))
        .alias("name"),
    )


def microdata_triples(df: DataFrame, html_col: str = "html",
                      id_col: str = "doc_id") -> DataFrame:
    """schema.org microdata harvesting — the fourth head/body metadata
    family (page_metadata <meta>, social_meta OpenGraph, jsonld_meta
    JSON-LD, THIS itemscope/itemprop), and the format the Web Data
    Commons corpus extracts at web scale: every microdata-bearing tag
    yields one flat triple row (doc_id, seq, prop, value) in document
    order —

    - an ``itemscope`` open tag -> prop ``@type``, value its
      ``itemtype`` url ('' when absent);
    - ``<meta itemprop=..>`` -> value from ``content``;
    - ``<link itemprop=..>`` -> value from ``href``;
    - a body-valued ``<x itemprop=..>body</x>`` -> value = inner text,
      markup stripped and whitespace collapsed.

    A tag carrying BOTH itemscope and itemprop (a nested item used as
    a property) emits its ``@type`` row; the child's own properties
    arrive from their own tags — flat triples, nesting is the
    consumer's reconstruction (exactly the WDC N-Quads convention).

    Scale shape: ONE alternation regex extract-all + posexplode
    generator, then per-row codegen pulls — zero Python, zero
    shuffles."""
    from pyspark.sql import functions as F

    from ..functions.robots import _attr

    pat = (
        "(?is)<(?:meta|link)\\b[^>]*\\bitemprop\\b[^>]*>"
        "|<([a-z][a-z0-9]*)\\b[^>]*\\bitemprop\\b[^>]*>.*?</\\1\\s*>"
        "|<[a-z][a-z0-9]*\\b[^>]*\\bitemscope\\b[^>]*>"
    )
    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.regexp_extract_all(F.col(html_col), F.lit(pat), F.lit(0))
        ).alias("seq", "_m"),
    )
    open_tag = F.regexp_extract(F.col("_m"), "(?s)^<[^>]*>", 0)
    is_scope = open_tag.rlike("(?i)\\bitemscope\\b")
    is_void = open_tag.rlike("(?i)^<(?:meta|link)\\b")
    body = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("_m"), "(?s)<[^>]*>", " "), "\\s+", " "
    ))
    content = _attr(open_tag, "content")
    href = _attr(open_tag, "href")
    value = (
        F.when(is_scope, _attr(open_tag, "itemtype"))
        .when(is_void & (content != ""), content)
        .when(is_void, href)
        .otherwise(body)
    )
    prop = F.when(is_scope, F.lit("@type")).otherwise(
        _attr(open_tag, "itemprop")
    )
    return e.select(
        "doc_id", "seq", prop.alias("prop"), value.alias("value")
    )


def license_flags(df: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id") -> DataFrame:
    """License detection — the license-aware corpus gate (what a
    permissively-licensed training set filters on): per page,

    - ``license_url``: href of the first ``rel="license"`` <a>/<link>
      (the microformats convention) — '' when absent;
    - ``cc_kind`` / ``cc_version``: the Creative Commons deed parsed
      from the FIRST ``creativecommons.org/licenses/<kind>/<ver>/``
      url anywhere in the page (rel=license href, a plain anchor, or
      badge src all count — the CC-corpus mining convention), '' when
      none;
    - ``has_license_rel``: whether the rel=license tag existed.

    Pure JVM: two anchored regexps over the raw html — zero Python,
    zero shuffles, codegen-resident beside page_metadata."""
    from pyspark.sql import functions as F

    from ..functions.robots import _attr

    c = F.col(html_col)
    lic_tag = F.regexp_extract(
        c,
        "(?is)<(?:a|link)\\b[^>]*\\brel\\s*=\\s*[\"']?license[\"']?"
        "[^>]*>",
        0,
    )
    cc = "creativecommons\\.org/licenses/([a-z][a-z-]*)/([0-9]+\\.[0-9]+)"
    return df.select(
        F.col(id_col).alias("doc_id"),
        _attr(lic_tag, "href").alias("license_url"),
        F.regexp_extract(c, cc, 1).alias("cc_kind"),
        F.regexp_extract(c, cc, 2).alias("cc_version"),
        (lic_tag != "").alias("has_license_rel"),
    )


def headings_outline(df: DataFrame, html_col: str = "html",
                     id_col: str = "doc_id") -> DataFrame:
    """Document-outline mining: every ``<h1>``..``<h6>`` yields
    (doc_id, seq, level, text) in document order, inner markup
    stripped and whitespace collapsed — the structure signal markdown
    conversion, section chunking (chunk-at-headings beats fixed-width
    for RAG corpora) and title/quality heuristics share.

    One JVM regex extract-all + posexplode generator, zero Python,
    zero shuffles."""
    from pyspark.sql import functions as F

    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.regexp_extract_all(
                F.col(html_col),
                F.lit("(?is)<h[1-6][^>]*>.*?</h[1-6]\\s*>"), F.lit(0),
            )
        ).alias("seq", "_h"),
    )
    level = F.regexp_extract(
        F.col("_h"), "(?i)^<h([1-6])", 1
    ).cast("int")
    text = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("_h"), "(?s)<[^>]*>", " "), "\\s+", " "
    ))
    return e.select(
        "doc_id", "seq", level.alias("level"), text.alias("text")
    )


def bitext_pairs(df: DataFrame, html_col: str = "html",
                 id_col: str = "doc_id") -> DataFrame:
    """Translation-pair URL mining (the ParaCrawl / CCMatrix first
    stage): a page's hreflang cluster declares "this content exists in
    these languages at these urls" — every unordered pair of DISTINCT
    languages in one page's cluster is a bitext candidate (doc_id,
    lang_a, href_a, lang_b, href_b), lang_a < lang_b alphabetically,
    pairs in (seq_a, seq_b) document order.

    Scale shape: harvest via :func:`alternate_links` (zero shuffle),
    then ONE doc-keyed collect_list — per-page clusters are tiny (a
    site lists ≤ ~50 language variants), so the pair expansion is
    in-memory array combinatorics (flatten/transform, pure codegen),
    never a self-join: one shuffle total and no quadratic blow-up
    risk beyond the per-page cluster size itself."""
    from pyspark.sql import functions as F

    links = alternate_links(df, html_col=html_col, id_col=id_col)
    clusters = (
        links.filter(
            (F.col("rel") == "alternate") & (F.col("hreflang") != "")
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("seq", "hreflang", "href"))
            ).alias("_c")
        )
    )
    n = F.size(F.col("_c"))
    idx_pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.sequence(i + 1, n - 1),
            lambda j: F.struct(
                F.col("_c")[i].alias("a"), F.col("_c")[j].alias("b")
            ),
        ),
    ))
    p = clusters.filter(n >= 2).select(
        "doc_id", F.explode(idx_pairs).alias("_p")
    ).filter(F.col("_p.a.hreflang") != F.col("_p.b.hreflang"))
    first_is_a = F.col("_p.a.hreflang") < F.col("_p.b.hreflang")
    pick = lambda side: F.when(first_is_a, F.col("_p.a." + side)) \
        .otherwise(F.col("_p.b." + side))  # noqa: E731
    other = lambda side: F.when(first_is_a, F.col("_p.b." + side)) \
        .otherwise(F.col("_p.a." + side))  # noqa: E731
    return p.select(
        "doc_id",
        pick("hreflang").alias("lang_a"),
        pick("href").alias("href_a"),
        other("hreflang").alias("lang_b"),
        other("href").alias("href_b"),
    )


def alternate_links(df: DataFrame, html_col: str = "html",
                    id_col: str = "doc_id") -> DataFrame:
    """rel=alternate / next / prev link discovery — what a crawler
    reads for language variants (hreflang clusters: one content unit,
    N language urls — the multilingual-corpus grouping key) and for
    pagination chains (next/prev frontier expansion).

    Every matching ``<link>`` yields (doc_id, seq, rel, hreflang,
    href), seq in document order, hreflang '' when absent; tags with
    no href are dropped.  One JVM regex generator + quote-variant
    attribute pulls, zero Python, zero shuffles.
    """
    from pyspark.sql import functions as F

    from ..functions.robots import _attr

    tags = F.regexp_extract_all(
        F.col(html_col),
        F.lit("(?i)<link\\b[^>]*\\brel\\s*=\\s*[\"']?"
              "(?:alternate|next|prev)[\"']?[^>]*>"),
        F.lit(0),
    )
    e = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tags).alias("seq", "_tag"),
    )
    href = _attr(F.col("_tag"), "href")
    return (
        e.withColumn("_href", href)
        .filter(F.col("_href") != "")
        .select(
            "doc_id", "seq",
            F.lower(_attr(F.col("_tag"), "rel")).alias("rel"),
            _attr(F.col("_tag"), "hreflang").alias("hreflang"),
            F.col("_href").alias("href"),
        )
    )
