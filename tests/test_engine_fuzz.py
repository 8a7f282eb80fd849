"""Property-based engine invariants over arbitrary tag soup.

The fixture corpus pins exact bytes for KNOWN inputs; these properties pin
the two behaviors that must hold for ALL inputs at 10^12-doc scale:

1. total safety — clean_html never raises; every failure is a value in
   the error column (one malformed page cannot kill an executor), and
2. convergence — when a document cleans successfully, repeated cleaning
   reaches a fixed point within a few passes (the cascade cannot
   oscillate; idempotence is deliberately NOT claimed — the reference's
   single-pass semantics legitimately takes several passes to settle,
   e.g. S5 empties a <p> on pass N and only pass N+1 can strip the
   whitespace that removal exposes).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from htmlcleanup_spark.engine import clean_html

# The tag-soup alphabet; tests/make_fixtures.py draws the engine digest's
# seeded soups from the same two tuples.
WORDS = ("alpha", "beta", "x", "42", "a b", "&nbsp;", "q.", "é", " ")
TOKENS = (
    "<p>", "</p>", '<p align="left">', "<b>", "</b>", "<i>", "</i>",
    "<font face=\"Book Antiqua\">", "<font>", "</font>",
    "<span>", "</span>", '<span style="color: navy">',
    "<o:p>", "</o:p>", '<o:p x="1">',
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
    '<td><img src="img/rombul12.gif"></td>',
    "<div>", "</div>", '<div align="center">', "<center>", "</center>",
    "<br>", "<br />", "<script>var x=1;</script>", "<!--mstheme-->",
    "<!-- c -->", "<h2>", "</h2>", "<a href=\"x\">", "</a>",
    "<strong>", "</strong>", "<", ">", "</", "<p", "&amp;",
)
_WORDS = st.sampled_from(WORDS)
_TOKENS = st.sampled_from(TOKENS)


@st.composite
def soup(draw):
    parts = draw(
        st.lists(st.one_of(_WORDS, _TOKENS), min_size=0, max_size=40)
    )
    return (
        "<html>\n<head><title>t</title></head>\n<body>\n"
        + "".join(parts)
        + "\n</body>\n</html>\n"
    )


@settings(max_examples=120, deadline=None)
@given(soup())
def test_never_raises_and_converges(html):
    r = clean_html(html)
    # total safety: failures are values, not exceptions
    assert (r.text is None) != (r.error is None)
    if r.error is not None:
        return
    assert r.bytes_in == len(html.encode("utf-8"))
    assert r.bytes_out == len(r.text.encode("utf-8"))
    # convergence: a fixed point is reached within a bounded number of
    # passes (no oscillation). Each pass can expose new strippable
    # content (emptied <p>s, then whitespace in the emptied parent), so
    # the bound is > 2; 6 is far above anything the cascade produces.
    cur = r.text
    for _ in range(6):
        rn = clean_html(cur)
        if rn.error is not None:
            return  # per-document error column tolerates this
        if rn.text == cur:
            return  # fixed point reached
        cur = rn.text
    raise AssertionError(f"no fixed point within 6 passes: {cur!r}")


def test_multipass_convergence_pinned_minimal_case():
    """The deterministic counterexample justifying the >2-pass bound in
    test_never_raises_and_converges: an unclosed ``<p><o:p>`` takes FOUR
    passes to settle — pass 1 closes the soup (``</o:p></p>`` inserted),
    pass 2's o:p-strip orphan removal empties the body, pass 3 collapses
    the now-whitespace-only body, pass 4 is the fixed point.  So "pass 2
    is a fixed point of pass 3" (the old property) is genuinely false,
    not a loosened invariant.

    Output size is NOT asserted non-increasing: on malformed soup the
    serializer can legally re-close unparseable ``<word`` text into
    longer markup for a pass or two (measured: 58/20k random soups grow
    once before settling) — convergence, not monotonicity, is the
    invariant.
    """
    html = ("<html>\n<head><title>t</title></head>\n<body>\n"
            "<p><o:p>\n</body>\n</html>\n")
    texts = [html]
    for _ in range(6):
        r = clean_html(texts[-1])
        assert r.error is None
        texts.append(r.text)
    assert texts[1] != texts[2] != texts[3], "case must need > 2 passes"
    assert texts[3] == texts[4] == texts[5], "fixed point by pass 4"
    assert texts[3] == ("<html>\n<head><title>t</title></head>\n"
                        "<body></body>\n</html>\n")


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200))
def test_arbitrary_bytes_never_raise(payload):
    r = clean_html(payload)
    assert (r.text is None) != (r.error is None)
