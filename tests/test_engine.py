"""Engine unit tests: fixture pairs, convergence, quirks, error column."""

from __future__ import annotations

import glob
import os

import make_fixtures
import pytest

from htmlcleanup_spark.engine import clean_html
from htmlcleanup_spark.engine.preparse import (
    UnparseableHtml,
    fix_b_p_interleave,
    remove_tag_pairs,
)
from htmlcleanup_spark.engine.rules import RuleConfig

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")

SPECIAL_RULES = {"w6-split-enabled": RuleConfig(split_double_br=True)}


def fixture_pairs():
    for in_path in sorted(glob.glob(os.path.join(FIXTURE_DIR, "*", "*.in.html"))):
        out_path = in_path.replace(".in.html", ".out.html")
        rule_dir = os.path.basename(os.path.dirname(in_path))
        nn = os.path.basename(in_path).split(".")[0]
        yield pytest.param(in_path, out_path, rule_dir, id="%s-%s" % (rule_dir, nn))


@pytest.mark.parametrize("in_path,out_path,rule_dir", fixture_pairs())
def test_fixture_byte_identical(in_path, out_path, rule_dir):
    with open(in_path) as f:
        html = f.read()
    with open(out_path) as f:
        expected = f.read()
    rules = SPECIAL_RULES.get(rule_dir)
    result = clean_html(html, rules) if rules else clean_html(html)
    assert result.error is None
    assert result.text == expected


@pytest.mark.parametrize("in_path,out_path,rule_dir", fixture_pairs())
def test_cascade_convergence(in_path, out_path, rule_dir):
    """clean(clean(x)) is a fixed point (the cascade converges in 2 passes).

    Full-cascade *idempotence* does not hold in the reference either: S3 only
    strips align= attributes (soupcleanup.py:440-441), so a pass-1 output can
    still carry a removable text-align style.
    """
    with open(out_path) as f:
        once = f.read()
    rules = SPECIAL_RULES.get(rule_dir)
    twice = (clean_html(once, rules) if rules else clean_html(once)).text
    thrice = (clean_html(twice, rules) if rules else clean_html(twice)).text
    assert twice is not None and thrice == twice


def test_engine_digest_unchanged():
    """Every digest input cleans to the frozen sha256 of its whole result
    (text, error, byte counts and rules_fired).  Refresh the file with
    ``python tests/make_fixtures.py`` only after auditing the change."""
    diffs = make_fixtures.digest_diffs(make_fixtures.read_digest(),
                                       make_fixtures.engine_digest())
    assert diffs == [], "%d inputs drifted, first: %s" % (len(diffs),
                                                          diffs[:10])


class TestDepth:
    """No document is lost to nesting depth: every tree walk in the engine
    runs on an explicit stack (dom.descendants, the S3 frame stack)."""

    @pytest.mark.parametrize("body", [
        "<div>" * 10_000 + "deep" + "</div>" * 10_000,
        "<font>" * 10_000 + "deep",
        "<b>" * 10_000 + "deep",
        "<div>" * 10_000 + "deep" + "</span>" * 10_000,
    ], ids=["div-nested", "font-unclosed", "b-unclosed", "unmatched-ends"])
    def test_deep_page_cleans(self, body):
        r = clean_html(make_fixtures.page(body))
        assert r.error is None
        assert "deep" in r.text

    def test_descendants_is_preorder_with_paired_exits(self):
        from htmlcleanup_spark.engine.dom import Tag, descendants, parse

        doc = parse("<p>a<b>b<i>c</i></b><!--d--><br>e</p><p>f</p>")
        order = [n.name if isinstance(n, Tag) else str(n)
                 for n in descendants(doc)]
        assert order == ["p", "a", "b", "b", "i", "c", "<!--d-->", "br",
                         "e", "p", "f"]
        open_tags, closed = [], []
        for n in descendants(doc, exits=True):
            if n is None:
                closed.append(open_tags.pop().name)
            elif isinstance(n, Tag):
                open_tags.append(n)
        assert open_tags == [] and closed == ["i", "b", "br", "p", "p"]


class TestPreparse:
    def test_unpaired_end_tag_raises(self):
        with pytest.raises(UnparseableHtml):
            remove_tag_pairs("a</font>b", "font", ['face="X"'])

    def test_trailing_orphan_start_survives(self):
        # Starts after the last end tag are never collected
        # (htmlcleanup.py:74, end_pos == -1): they survive strip-all mode.
        assert remove_tag_pairs("a<o:p>b", "o:p") == "a<o:p>b"
        assert remove_tag_pairs('a<o:p x="1">b', "o:p") == 'a<o:p x="1">b'

    def test_orphan_start_between_pairs_stripped(self):
        # A simple orphan collected before some end tag IS stripped
        # (htmlcleanup.py:115-121).
        assert remove_tag_pairs("<o:p>a<o:p>b</o:p>c", "o:p") == "abc"

    def test_paired_compound_leaves_residue(self):
        # Paired compound start in strip-all mode loses only "<o:p "
        # (htmlcleanup.py:100-108); the attrs> text stays.
        assert (
            remove_tag_pairs('<o:p x="1">a<o:p>b</o:p>c</o:p>', "o:p")
            == 'x="1">abc'
        )

    def test_compound_invisible_without_simple_ahead(self):
        # htmlcleanup.py:78-83: with no simple start ahead, the compound hit
        # is rejected (p < -1 never holds) -> end tag has no start -> raise.
        with pytest.raises(UnparseableHtml):
            remove_tag_pairs('a<o:p x="1">b</o:p>', "o:p")

    def test_orphan_compound_slice_bug(self):
        # htmlcleanup.py:133 slices html[start : gt - start + 1].  Far from
        # the document start the slice is empty -> nothing stripped; near
        # the start it is non-empty, contains '<', and raises.
        far = ("z" * 40) + '<o:p x="1">tail<o:p>a</o:p>'
        assert remove_tag_pairs(far, "o:p") == ("z" * 40) + '<o:p x="1">taila'
        with pytest.raises(UnparseableHtml):
            remove_tag_pairs('<o:p x="1">t<o:p>a</o:p>', "o:p")

    def test_only_configured_faces_stripped(self):
        html = '<font face="X">a</font><font face="Y">b</font>'
        assert remove_tag_pairs(html, "font", ['face="X"']) == (
            'a<font face="Y">b</font>'
        )

    def test_recursive_pairs(self):
        html = '<font face="X">a<font face="X">b</font>c</font>'
        assert remove_tag_pairs(html, "font", ['face="X"']) == "abc"

    def test_bp_interleave_length_preserving(self):
        html = "<b><p> t.</b></p>"
        fixed = fix_b_p_interleave(html)
        assert fixed == "<p><b> t.</b></p>"
        assert len(fixed) == len(html)

    def test_bp_interleave_skips_closed_p(self):
        html = "<b><p>t</p></b>"
        assert fix_b_p_interleave(html) == html


class TestErrorColumn:
    """Per-document failures land in .error; clean_html never raises."""

    def test_unpaired_font_end(self):
        r = clean_html("<body></font><p>x</p></body>")
        assert r.text is None and "UnparseableHtml" in r.error

    def test_no_body(self):
        r = clean_html("<p>no body</p>")
        assert r.text is None and "no <body>" in r.error

    def test_bad_table_structure(self):
        r = clean_html(
            "<html><head><title>t</title></head><body>"
            "<table><div>x</div><tr><td>a</td><td>b</td></tr></table>"
            "</body></html>"
        )
        assert r.text is None and "CascadeError" in r.error

    def test_font_unknown_attr(self):
        r = clean_html(
            "<html><head><title>t</title></head><body>"
            '<p>a<font onclick="x">b</font>c</p></body></html>'
        )
        assert r.text is None and "unknown attributes" in r.error

    def test_empty_and_garbage(self):
        assert clean_html("").error is not None
        assert clean_html(b"\xff\xfe<html>").error is not None


class TestQuirks:
    def test_non_ascii_never_deduped(self):
        body = "<html><head><title>t</title></head><body><p>%s</p></body></html>"
        assert "aé  b" in clean_html(body % "aé  b").text
        assert "ax b" in clean_html(body % "ax  b").text

    def test_double_nbsp_never_deduped(self):
        r = clean_html(
            "<html><head><title>t</title></head><body>"
            "<p>a&nbsp;&nbsp;b</p></body></html>"
        )
        assert "a&nbsp;&nbsp;b" in r.text

    def test_br_serialized_without_slash(self):
        r = clean_html(
            "<html><head><title>t</title></head><body>"
            "<p>x<br>y</p></body></html>"
        )
        assert "<br>" in r.text and "<br />" not in r.text

    def test_crlf_normalized(self):
        r = clean_html(
            "<html>\r\n<head><title>t</title></head>\r\n<body>\r\n"
            "<p>x</p>\r\n</body>\r\n</html>"
        )
        assert "\r" not in r.text

    def test_counters_and_bytes(self):
        r = clean_html(
            "<html><head><title>t</title></head><body>"
            "<script>x</script><!--c--><p><b>x</b></p></body></html>"
        )
        assert r.rules_fired["d1_script"] == 1
        assert r.rules_fired["d2_comment"] == 1
        assert r.rules_fired["d3_rename"] == 1
        assert r.bytes_in > 0 and r.bytes_out > 0


class TestPreparseDifferential:
    """Byte-parity proof: run the REFERENCE implementation side-by-side.

    The reference helper (htmlcleanup.py) is plain string code that imports
    cleanly under Python 3; an exhaustive token-product sweep compares our
    remove_tag_pairs against HtmlCleanupHelper.remove_tags on every
    composition — same output bytes, or both raise.  This replaces trust in
    engine-frozen fixtures with a direct trace of the reference
    (independently derived per ADVICE round 1).
    """

    @staticmethod
    def _reference():
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "ref_htmlcleanup", "/root/reference/htmlcleanup.py"
        )
        if not os.path.exists(spec.origin):
            pytest.skip("reference implementation %s is absent; the fixture "
                        "corpus stays the byte contract" % spec.origin)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.HtmlCleanupHelper

    def _compare(self, helper, html, tag, contents):
        try:
            expected = helper.remove_tags(html, tag, contents)
            ref_raised = None
        except Exception as e:  # reference raises bare Exception
            expected, ref_raised = None, e
        try:
            got = remove_tag_pairs(html, tag, contents)
            got_raised = None
        except UnparseableHtml as e:
            got, got_raised = None, e
        if ref_raised is not None:
            assert got_raised is not None, (
                "reference raised (%s) but repo returned %r for %r"
                % (ref_raised, got, html)
            )
        else:
            assert got_raised is None, (
                "repo raised (%s) but reference returned %r for %r"
                % (got_raised, expected, html)
            )
            assert got == expected, "divergence on %r" % html

    def test_strip_all_token_sweep(self):
        import itertools

        helper = self._reference()
        tokens = ["a", "<o:p>", "</o:p>", '<o:p x="1">', "zzzzzzzzzzzz<o:p>",
                  '<o:p q="a', "<o:p"]
        n = 0
        for length in (1, 2, 3, 4):
            for combo in itertools.product(tokens, repeat=length):
                self._compare(helper, "".join(combo), "o:p", None)
                n += 1
        assert n == 7 + 49 + 343 + 2401

    def test_empty_contents_means_strip_all_sweep(self):
        """The reference's `if tag_contents:` truthiness makes [] identical
        to None (strip-all); sweep the same token products with []."""
        import itertools

        helper = self._reference()
        tokens = ["a", "<o:p>", "</o:p>", '<o:p x="1">']
        for length in (1, 2, 3):
            for combo in itertools.product(tokens, repeat=length):
                self._compare(helper, "".join(combo), "o:p", [])

    def test_font_contents_token_sweep(self):
        import itertools

        helper = self._reference()
        tokens = ["b", '<font face="X">', '<font face="Y">', "</font>",
                  "<font>"]
        contents = ['face="X"', ""]
        for length in (1, 2, 3, 4):
            for combo in itertools.product(tokens, repeat=length):
                self._compare(helper, "".join(combo), "font", contents)


def test_dirty_wrap_maps_to_clean_wrap():
    """The driver-contract pages wrap is PATHOLOGICAL (P1 font pair, P2 o:p,
    D2 comment, D3 <b>, I4 lang/style, S3 align, S5 trailing empty <p>) and
    the cascade must map it to the clean wrap for any ASCII single-spaced
    entity-free text — this is what makes the 500-doc clean_documents
    oracle real cascade evidence rather than a plumbing identity check."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from __spark_entry__ import _CLEAN_POST, _CLEAN_PRE, _WRAP_POST, _WRAP_PRE

    for text in [
        "Hello world this is a doc.",
        "a",
        "Der Hund und die Katze.",
        "x y z w. Punct, stuff! (parens) 42.",
        "No trailing dot",
    ]:
        r = clean_html(_WRAP_PRE + text + _WRAP_POST)
        assert r.error is None
        assert r.text == _CLEAN_PRE + text + _CLEAN_POST
    fired = clean_html(_WRAP_PRE + "abc" + _WRAP_POST).rules_fired
    for rule in ("p_preparse", "d2_comment", "d3_rename", "s3_alignment",
                 "s5_trailing_empty_p"):
        assert fired[rule] >= 1, rule
