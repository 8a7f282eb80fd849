"""DOM-heuristic main-content extraction: recipe round trip, classifier
behaviors (chrome suppression, link density, short-block promotion),
totality, Spark operator."""

from __future__ import annotations

import pytest

from htmlcleanup_spark.engine.maincontent import (
    expected_main_content,
    main_content,
    synth_article_html,
)

LONG = "x" * 30 + " " + "y" * 30 + " " + "z" * 30  # 92 chars, no links


@pytest.mark.parametrize("doc_id", list(range(18)))
def test_recipe_round_trip(doc_id):
    text, n_blocks, n_good, err = main_content(synth_article_html(doc_id))
    exp_text, exp_blocks, exp_good = expected_main_content(doc_id)
    assert err is None
    assert (text, n_blocks, n_good) == (exp_text, exp_blocks, exp_good)


def test_chrome_ancestors_are_always_bad():
    html = "<body><nav><p>%s</p></nav><p>%s</p></body>" % (LONG, LONG)
    text, n_blocks, n_good, _ = main_content(html)
    assert n_blocks == 2 and n_good == 1
    assert "x" * 30 in text  # the non-nav paragraph survived


def test_link_density_kills_long_blocks():
    linky = '<a href="/">%s</a> tail' % LONG  # density ~0.95
    html = "<body><p>%s</p><p>%s</p></body>" % (linky, LONG)
    _, n_blocks, n_good, _ = main_content(html)
    assert n_blocks == 2 and n_good == 1


def test_short_block_promotion_needs_a_good_neighbor():
    # short between two good -> promoted
    html = "<body><p>%s</p><h2>hdr</h2><p>%s</p></body>" % (LONG, LONG)
    text, _, n_good, _ = main_content(html)
    assert n_good == 3 and "hdr" in text
    # isolated short among bad -> stays bad
    html2 = '<body><nav><a href="/">home</a></nav><h2>hdr</h2></body>'
    text2, _, n_good2, _ = main_content(html2)
    assert n_good2 == 0 and text2 == ""


def test_promotion_does_not_cascade_through_short_chains():
    # good, short, short, short... the far shorts must not ride the chain
    html = "<body><p>%s</p><h2>one</h2><h2>two</h2><h2>three</h2></body>" % LONG
    text, _, n_good, _ = main_content(html)
    assert "one" in text and "three" not in text


def test_br_is_inline_not_a_block_boundary():
    html = "<body><p>%s<br>%s</p></body>" % (LONG, LONG)
    _, n_blocks, n_good, _ = main_content(html)
    assert n_blocks == 1 and n_good == 1


def test_deep_page_segments():
    """A block nested 10,000 deep is segmented like a shallow one."""
    html = ("<body>" + "<div>" * 10_000 + "<p>%s</p>" % LONG
            + "</div>" * 10_000 + "</body>")
    text, n_blocks, n_good, err = main_content(html)
    assert err is None
    assert (text, n_blocks, n_good) == (LONG, 1, 1)


def test_total_on_garbage():
    for junk in [None, b"\xff\xfe\x00junk", "", "<p>", "< < < >", "a" * 5]:
        text, n_blocks, n_good, err = main_content(junk)
        assert (text is None) == (err is not None)


def test_spark_operator(spark):
    import pandas as pd

    from htmlcleanup_spark.operators.content import extract_main_content

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "html": [synth_article_html(int(i)) for i in pdf["doc_id"]],
            })

    pages = ids.mapInPandas(gen, "doc_id bigint, html string")
    out = extract_main_content(pages).toPandas().sort_values("doc_id")
    assert len(out) == 30 and out["error"].isna().all()
    for _, row in out.iterrows():
        exp_text, exp_blocks, exp_good = expected_main_content(
            int(row["doc_id"]))
        assert row["main_text"] == exp_text
        assert (row["n_blocks"], row["n_good"]) == (exp_blocks, exp_good)


def test_page_metadata_extraction(spark):
    """Title whitespace collapse, attr quoting variants, h1 counting."""
    from htmlcleanup_spark.operators.content import page_metadata

    rows = [
        (0, "<html><head><title>  A\n  Big   Title </title>"
            '<meta name="description" content="hello world">'
            "</head><body><h1>First</h1><h2>x</h2><h1>Second</h1>"
            "</body></html>"),
        (1, "<head><META NAME=description content='single quoted'>"
            "</head>"),
        (2, "<body>no head at all</body>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in page_metadata(df).collect()}

    assert out[0].title == "A Big Title"
    assert out[0].meta_description == "hello world"
    assert out[0].n_h1 == 2 and out[0].first_h1 == "First"
    assert out[1].meta_description == "single quoted"   # case + quotes
    assert out[2].title == "" and out[2].n_h1 == 0


def test_image_alt_pairs_forms_and_resolution(spark):
    from htmlcleanup_spark.operators.content import image_alt_pairs

    html = (
        '<p>x</p>'
        '<IMG SRC="https://cdn.ex/a.jpg" ALT="abs pic">'
        "<img src='/rel/b.png' alt='site pic'>"
        '<img src=//proto.ex/c.gif alt="proto pic">'
        '<img src="d.webp" alt="rel pic">'
        '<img src="https://cdn.ex/noalt.jpg">'          # no alt -> drop
        '<img alt="no src">'                            # no src -> drop
        '<img src="https://cdn.ex/e.jpg" alt="">'       # empty alt -> drop
    )
    df = spark.createDataFrame(
        [(1, html, "site.example")], "doc_id long, html string, host string"
    )
    rows = sorted(
        (r.seq, r.img_url, r.alt)
        for r in image_alt_pairs(df).collect()
    )
    assert rows == [
        (0, "https://cdn.ex/a.jpg", "abs pic"),
        (1, "https://site.example/rel/b.png", "site pic"),
        (2, "https://proto.ex/c.gif", "proto pic"),
        (3, "https://site.example/d.webp", "rel pic"),
    ]


def test_image_alt_pairs_zero_shuffle_plan(spark):
    from htmlcleanup_spark.operators.content import image_alt_pairs

    df = spark.createDataFrame(
        [(1, '<img src="https://a/b.jpg" alt="x">', "h")],
        "doc_id long, html string, host string",
    )
    plan = (
        image_alt_pairs(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan     # the posexplode generator


def test_table_extract_cells_and_headers(spark):
    from htmlcleanup_spark.operators.content import table_extract

    html = (
        '<p>pre</p>'
        '<table><tr><th>Name</th><th>Age</th></tr>'
        '<tr><td> <b>Ada</b> </td><td>36</td></tr>'
        '<tr><td>Grace</td><td>45</td></tr></table>'
        '<div><table id="t2"><tr><td>solo</td></tr></table></div>'
    )
    df = spark.createDataFrame([(7, html)], "doc_id long, html string")
    rows = sorted(
        (r.table_idx, r.row_idx, r.col_idx, r.cell_text, r.is_header)
        for r in table_extract(df).collect()
    )
    assert rows == [
        (0, 0, 0, "Name", True),
        (0, 0, 1, "Age", True),
        (0, 1, 0, "Ada", False),
        (0, 1, 1, "36", False),
        (0, 2, 0, "Grace", False),
        (0, 2, 1, "45", False),
        (1, 0, 0, "solo", False),
    ]


def test_table_extract_no_tables_and_zero_shuffle(spark):
    from htmlcleanup_spark.operators.content import table_extract

    df = spark.createDataFrame(
        [(1, "<p>plain page</p>"), (2, "<table></table>")],
        "doc_id long, html string",
    )
    out = table_extract(df)
    assert out.count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_code_blocks_decode_lang_and_lines(spark):
    from htmlcleanup_spark.operators.content import code_blocks

    html = (
        '<p>tutorial</p>'
        '<pre><code class="language-c++">\n'
        'if (a &lt; b &amp;&amp; c &gt; d) {\n'
        '  s = &quot;x&#39;y&quot;;\n'
        '}\n'
        '</code></pre>'
        '<pre>  plain block  </pre>'
        '<p>no pre here: <code>inline()</code></p>'
    )
    df = spark.createDataFrame([(3, html)], "doc_id long, html string")
    rows = sorted(
        (r.seq, r.lang, r.code, r.n_lines)
        for r in code_blocks(df).collect()
    )
    assert rows == [
        (0, "c++", 'if (a < b && c > d) {\n  s = "x\'y";\n}', 3),
        (1, "", "plain block", 1),
    ]


def test_social_meta_fields_and_absence(spark):
    from htmlcleanup_spark.operators.content import social_meta

    html = (
        '<html><head>'
        '<meta property="og:title" content="A Card Title">'
        "<meta property='og:image' content='https://c.ex/i.jpg'>"
        '<meta property=og:description content="A desc here">'
        '<link rel="alternate" type="application/atom+xml" '
        "href='/atom.xml'>"
        '</head><body></body></html>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, "<html><head></head></html>")],
        "doc_id long, html string",
    )
    rows = {r.doc_id: r for r in social_meta(df).collect()}
    r1 = rows[1]
    assert r1.og_title == "A Card Title"
    assert r1.og_image == "https://c.ex/i.jpg"
    assert r1.og_description == "A desc here"
    assert r1.feed_url == "/atom.xml"
    r2 = rows[2]
    assert (r2.og_title, r2.og_image, r2.og_description,
            r2.feed_url) == ("", "", "", "")


def test_jsonld_meta_parse_and_malformed(spark):
    from htmlcleanup_spark.operators.content import jsonld_meta

    html = (
        '<script type="application/ld+json">'
        '{"@type":"Recipe","name":"Soup"}</script>'
        '<script type="application/ld+json">'
        '{"@type":"Article","headline":"Fallback Head"}</script>'
        '<script type="application/ld+json">{broken</script>'
        '<script type="text/javascript">{"@type":"NotLd"}</script>'
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = sorted(
        (r.seq, r.ld_type, r.name) for r in jsonld_meta(df).collect()
    )
    assert rows == [
        (0, "Recipe", "Soup"),
        (1, "Article", "Fallback Head"),
        (2, "", ""),
    ]


def test_alternate_links_rel_hreflang_order(spark):
    from htmlcleanup_spark.operators.content import alternate_links

    html = (
        '<link rel="stylesheet" href="/css">'
        '<link rel="alternate" hreflang="de" href="/de/1">'
        '<link rel=next href=/p/2>'
        "<link rel='prev' href='/p/0'>"
        '<link rel="alternate" type="application/rss+xml">'  # no href
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = sorted(
        (r.seq, r.rel, r.hreflang, r.href)
        for r in alternate_links(df).collect()
    )
    assert rows == [
        (0, "alternate", "de", "/de/1"),
        (1, "next", "", "/p/2"),
        (2, "prev", "", "/p/0"),
    ]


def test_microdata_triples_families_and_order(spark):
    from htmlcleanup_spark.operators.content import microdata_triples

    html = (
        '<div itemscope itemtype="https://schema.org/Article">'
        '<span itemprop="name">A  <b>Good</b> Story</span>'
        '<meta itemprop="position" content="3">'
        "<link itemprop='url' href='/a/1'>"
        "</div>"
        "<p itemscope>untyped</p>"
    )
    df = spark.createDataFrame(
        [(1, html), (2, "<html><body>none</body></html>")],
        "doc_id long, html string",
    )
    rows = sorted(
        (r.seq, r.prop, r.value)
        for r in microdata_triples(df).collect()
    )
    assert rows == [
        (0, "@type", "https://schema.org/Article"),
        (1, "name", "A Good Story"),
        (2, "position", "3"),
        (3, "url", "/a/1"),
        (4, "@type", ""),
    ]


def test_license_flags_bands(spark):
    from htmlcleanup_spark.operators.content import license_flags

    cc = "https://creativecommons.org/licenses/by-sa/4.0/"
    df = spark.createDataFrame(
        [
            (0, '<link rel="license" href="%s">' % cc),
            (1, "<a rel=license href='/terms'>terms</a>"),
            (2, '<a href="https://creativecommons.org/licenses/by/3.0/"'
                ">CC BY</a>"),
            (3, "<p>plain</p>"),
        ],
        "doc_id long, html string",
    )
    rows = {r.doc_id: r for r in license_flags(df).collect()}
    assert rows[0].license_url == cc
    assert (rows[0].cc_kind, rows[0].cc_version) == ("by-sa", "4.0")
    assert rows[0].has_license_rel
    assert rows[1].license_url == "/terms"
    assert (rows[1].cc_kind, rows[1].cc_version) == ("", "")
    assert rows[1].has_license_rel
    assert not rows[2].has_license_rel
    assert (rows[2].cc_kind, rows[2].cc_version) == ("by", "3.0")
    assert (rows[3].license_url, rows[3].cc_kind,
            rows[3].has_license_rel) == ("", "", False)


def test_headings_outline_levels_and_strip(spark):
    from htmlcleanup_spark.operators.content import headings_outline

    html = (
        "<h1 class='t'>Main   Title</h1><p>x</p>"
        "<h2>Part <em>one</em></h2>"
        "<h3> deep </h3>"
    )
    df = spark.createDataFrame(
        [(1, html), (2, "<p>no headings</p>")],
        "doc_id long, html string",
    )
    rows = sorted(
        (r.seq, r.level, r.text) for r in headings_outline(df).collect()
    )
    assert rows == [
        (0, 1, "Main Title"), (1, 2, "Part one"), (2, 3, "deep"),
    ]


def test_bitext_pairs_cluster_expansion(spark):
    from htmlcleanup_spark.operators.content import bitext_pairs

    tri = (
        '<link rel="alternate" hreflang="en" href="/en">'
        '<link rel="alternate" hreflang="fr" href="/fr">'
        '<link rel="alternate" hreflang="de" href="/de">'
    )
    solo = '<link rel="alternate" hreflang="en" href="/only">'
    dupe = (
        '<link rel="alternate" hreflang="en" href="/en1">'
        '<link rel="alternate" hreflang="en" href="/en2">'
    )
    df = spark.createDataFrame(
        [(1, tri), (2, solo), (3, dupe)], "doc_id long, html string"
    )
    rows = sorted(
        (r.doc_id, r.lang_a, r.href_a, r.lang_b, r.href_b)
        for r in bitext_pairs(df).collect()
    )
    assert rows == [
        (1, "de", "/de", "en", "/en"),
        (1, "de", "/de", "fr", "/fr"),
        (1, "en", "/en", "fr", "/fr"),
    ]


def test_host_degrees_excludes_self_loops(spark):
    from htmlcleanup_spark.operators.links import host_degrees

    edges = spark.createDataFrame(
        [
            ("a", "b", 3), ("a", "c", 1), ("b", "a", 2),
            ("a", "a", 9),  # self-loop: excluded from both sides
            ("d", "a", 5),  # d never a dst -> in_deg 0 via full-outer
        ],
        "src_host string, dst_host string, n_links long",
    )
    rows = {r.host: r for r in host_degrees(edges).collect()}
    assert (rows["a"].out_deg, rows["a"].in_deg) == (2, 2)
    assert (rows["a"].n_out_links, rows["a"].n_in_links) == (4, 7)
    assert (rows["b"].out_deg, rows["b"].in_deg) == (1, 1)
    assert (rows["c"].out_deg, rows["c"].in_deg) == (0, 1)
    assert (rows["d"].out_deg, rows["d"].n_out_links,
            rows["d"].in_deg) == (1, 5, 0)
