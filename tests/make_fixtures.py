"""Fixture corpus author/refresh tool.

Each fixture input is authored by hand below; the expected output is the
engine's result, FROZEN after a manual audit against the reference rule
semantics (file:line citations in FIXTURES.md / SURVEY.md §2).  Re-running
this script regenerates .out.html files; `git diff` then shows any behavior
change, which must be re-audited before committing.

The same run refreshes (or, with --check, verifies) the engine digest: one
sha256 per input over the whole ``clean_html`` result, for a few thousand
generated pages and tag soups.  It pins the engine's output where the
hand-written fixtures are too few to notice a change, and it is computed
from a file, not from a second copy of the engine, so it catches a change
that a self-built twin would reproduce.

It also refreshes (or verifies) the oracle-SQL digest: one sha256 per
query over the text ``__spark_entry__.oracle_sql()`` returns for it, so a
change to an unchanged query's oracle shows up as a named drift.

Usage: python tests/make_fixtures.py [--check]
"""

from __future__ import annotations

import hashlib
import os
import random
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from htmlcleanup_spark.engine import clean_html  # noqa: E402
from htmlcleanup_spark.engine.rules import RuleConfig  # noqa: E402

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
DIGEST_PATH = os.path.join(FIXTURE_DIR, "engine-digest.txt")
ORACLE_DIGEST_PATH = os.path.join(FIXTURE_DIR, "oracle-sql.sha256")

# Digest inputs: make_html pages in the generator's 90/9/1 size mix (small
# under 10 KB, medium under 100 KB, giant above), and seeded tag soups, the
# first DIGEST_W6_SOUPS of them also with the optional W6 pass switched on.
DIGEST_MIX = (540, 54, 6)
DIGEST_SOUPS = 2000
DIGEST_W6_SOUPS = 500


def page(body: str) -> str:
    return (
        "<html>\n<head><title>t</title></head>\n<body>\n%s\n</body>\n</html>\n"
        % body
    )


# rule-dir -> nn -> input html (full page unless noted)
FIXTURES = {
    # P1: paired font-face strip incl. recursion (htmlcleanup.py:66-108)
    "p1-font-strip": {
        "01": page('<font face="Book Antiqua"> <p>x</p> </font>'),
        "02": page(
            '<p><font face="Book Antiqua">a'
            '<font face="Book Antiqua, Times New Roman, Times">b</font>'
            "c</font></p>"
        ),
        # interleaved with <center>: the whole reason P1 exists
        # (cleanup_msfp.py:51-62)
        "03": page(
            '<font face="Book Antiqua"> <center> </font> '
            "<p>x</p> </center>"
        ),
    },
    # P2: o:p strip incl. orphan starts (htmlcleanup.py:110-145).  Trailing
    # orphan starts (after the last end tag) SURVIVE — the reference never
    # collects them (htmlcleanup.py:74; verified by the differential sweep
    # in test_engine.py::TestPreparseDifferential).
    "p2-op-strip": {
        "01": page("<p>x<o:p></o:p>y</p>\n<p><o:p> </o:p>z</p>\n<p>w<o:p></p>"),
        # orphan start collected between pairs: stripped (htmlcleanup.py:115)
        "02": page("<p><o:p>a<o:p>b</o:p>c</p>"),
    },
    # P3: b/p interleave (cleanup_msfp.py:80-84, README.md:46)
    "p3-bp-interleave": {
        "01": page("<b><p> Here is some text.</b></p>"),
    },
    # D1 (cleanup_msfp.py:100-101)
    "d1-script": {
        "01": page(
            "<p>a</p>\n<script>var x=1; if (x<2) { alert('</p>'); }</script>\n"
            "<p>b</p>"
        ),
    },
    # D2 (cleanup_msfp.py:104-105)
    "d2-comments": {
        "01": page("<!--mstheme--><p>a<!-- normal comment -->b</p>"),
    },
    # D3: attrs intentionally dropped (cleanup_msfp.py:109-118)
    "d3-rename": {
        "01": page('<p><b>x</b> and <i y="1">z</i></p>'),
    },
    # S1 (soupcleanup.py:1360-1390)
    "s1-single-cell-table": {
        "01": page(
            '<table border="0" width="600"><tr><td><p>x</p></td></tr></table>'
        ),
        "02": page("<table><tr></tr></table>\n<p>keep</p>"),
        "03": page("<table><tr><td>a</td><td>b</td></tr></table>"),
    },
    # S2 (cleanup_msfp.py:133-135, soupcleanup.py:1392-1460)
    "s2-bullet-table": {
        "01": page(
            "<table>\n"
            '<tr><td><img src="img/rombul12.gif"></td><td>Item one</td></tr>\n'
            '<tr><td><img src="img/expbul1d.gif"></td><td>Item two</td></tr>\n'
            "</table>"
        ),
        # negative: a 3-td row disqualifies the table
        "02": page(
            "<table>"
            '<tr><td><img src="img/rombul12.gif"></td><td>a</td><td>b</td></tr>'
            "</table>"
        ),
    },
    # S3 (soupcleanup.py:340-443)
    "s3-alignment": {
        "01": page('<div align="center"><center><p align="center">x</p></center></div>'),
        "02": page('<p align="center"><img src="a.gif" align="middle">y</p>'),
        "03": page('<p align="left">x</p>'),
    },
    # S4 (cleanup_msfp.py:274-281)
    "s4-empty-p-after-block": {
        "01": page("<ul><li>a</li></ul>\n<p></p>\n<p>keep</p>"),
    },
    # S5 (cleanup_msfp.py:288-298)
    "s5-trailing-empty-p": {
        "01": page("<p>x</p><p></p><p></p>"),
        "02": page('<div id="k"><p>x</p><p></p>\n</div>'),
    },
    # I1 (cleanup_msfp.py:147-162)
    "i1-a-strong": {
        "01": page('<p><a href="u"><strong>x</strong></a></p>'),
        "02": page('<p><a href="u"><strong>x</strong> <strong>y</strong></a></p>'),
    },
    # I2 (cleanup_msfp.py:193-195, soupcleanup.py:855-1002)
    "i2-ws-hoist": {
        "01": page("<p><strong> x </strong>y</p>"),
        "02": page("<p>x<em>y<br></em>z</p>"),
        "03": page("<p><span><em> x</em></span>y</p>"),
        "04": page("<p>a<span></span>b</p>"),
        "05": page('<p>a<a name="n"></a>b</p>'),
    },
    # I3 (soupcleanup.py:564-791)
    "i3-mangle-tag": {
        "01": page('<p><span style="color: red">x</span></p>'),
        "02": page('<p><font color="#996600" face="Arial" size="2">x</font>y</p>'),
        "03": page('<p><a name="sec1">T</a></p>'),
        "04": page('<p id="x"><a name="sec1">T</a></p>'),
        "05": page(
            '<blockquote><span style="color: red; font-size: 10pt">'
            '<p style="color: blue">x</p></span></blockquote>'
        ),
    },
    # I4 (soupcleanup.py:451-562)
    "i4-mangle-attrs": {
        "01": page(
            '<p lang="en" class="MsoNormal x" style="line-height: 100%; '
            'mso-pagination: widow-orphan; margin-top: 0; color: navy" '
            'align="center">x</p>'
        ),
        "02": page('<h2 style="color: #996600">a</h2>\n<h3 style="color: #999900">b</h3>'),
        # margin quirk: only integer-like values are "numeric"
        # (soupcleanup.py:539-543 via unicode.isnumeric)
        "03": page('<p style="margin-top: 0.01; margin-left: 0">x</p>'),
    },
    # W1 (soupcleanup.py:1034-1090)
    "w1-dedupe": {
        "01": page("<p>a  b</p>"),
        "02": page("<p>a &nbsp; b</p>"),
        "03": page("<p>a&nbsp;&nbsp;b</p>"),
        "04": page("<p>a&nbsp;b</p>"),
        "05": page("<p>\n  x y</p>"),
    },
    # W3+W5 (cleanup_msfp.py:263-269, soupcleanup.py:1092-1220)
    "w3w5-strip-br": {
        "01": page("<p>x &nbsp; <br> y</p>"),
        "02": page("<p>&nbsp;x y</p>"),
    },
    # W4 (cleanup_msfp.py:247-256, soupcleanup.py:1222-1274)
    "w4-strip-non-inline": {
        "01": page("<ul><li>item &nbsp;</li></ul>"),
        "02": page("<p>x<br></p>"),
        "03": page("<p>x &nbsp;<br>\n</p>"),
        "04": page("<h2>two\n\nline title</h2>"),
    },
    # non-ASCII opt-out quirk (soupcleanup.py:172-190)
    "x1-nonascii": {
        "01": page("<p>aé  b</p>"),
    },
    # serializer contract (cleanup_msfp.py:45,300-302)
    "x2-serializer": {
        "01": "<html>\r\n<head><title>t</title></head>\r\n<body>\r\n"
              "<p>x<br>y</p>\r\n</body>\r\n</html>\r\n",
        "02": page('<p><img src="a.gif">z</p>'),
    },
    # W6 default-off: double <br> NOT split (driver never calls it)
    "w6-double-br": {
        "01": page("<p><em>a</em><br><br><em>b</em></p>"),
    },
    # full README.md:31-47 pathology, end-to-end pass ordering
    "cascade-msfp": {
        "01": (
            "<html>\r\n<head><title>t</title></head>\r\n"
            '<body bgcolor="#FFFFFF" text="#663300" link="#660000" '
            'vlink="#999900" alink="#006600">\r\n'
            '<!--mstheme--><font face="Book Antiqua">\r\n\r\n'
            '<div align="center">\r\n  <center>\r\n  <!--mstheme--></font>\r\n'
            '  <table border="0" width="600">\r\n    <tr>\r\n'
            '      <td><!--mstheme--><font face="Book Antiqua">\r\n\r\n'
            '<h2 style="line-height: 15.1 pt; mso-line-height-rule: exactly; '
            'mso-pagination: widow-orphan; margin-top: 0" align="left">'
            '<!--mstheme--><font face="Book Antiqua, Times New Roman, Times" '
            'color="#996600">This is the\r\n\r\ntitle of my page'
            "<!--mstheme--></font></h2>\r\n\r\n"
            " <b><p> Here is some text.</b></p>\r\n"
            "</td></tr></table>\r\n  </center>\r\n</div>\r\n"
            "</body>\r\n</html>\r\n"
        ),
    },
}

# Fixtures run with a non-default config: rule-dir -> RuleConfig
SPECIAL_RULES = {
    "w6-split-enabled": RuleConfig(split_double_br=True),
}
FIXTURES["w6-split-enabled"] = {
    "01": page("<p><em>a</em><br><br><em>b</em></p>"),
}


def digest_inputs():
    """Yield (name, html, rules) for every engine-digest input, in order."""
    from htmlcleanup_spark.sources.pages import make_html
    from test_engine_fuzz import TOKENS, WORDS

    taken = [0, 0, 0]
    i = 0
    while taken != list(DIGEST_MIX):
        html = make_html(i, seed=7)
        c = 0 if len(html) < 10_000 else (1 if len(html) < 100_000 else 2)
        if taken[c] < DIGEST_MIX[c]:
            taken[c] += 1
            yield "page-%d" % i, html, None
        i += 1
    w6 = RuleConfig(split_double_br=True)
    for k in range(DIGEST_SOUPS):
        rng = random.Random(k)
        parts = [rng.choice(WORDS if rng.random() < 0.5 else TOKENS)
                 for _ in range(rng.randint(0, 80))]
        html = page("".join(parts))
        yield "soup-%d" % k, html, None
        if k < DIGEST_W6_SOUPS:
            yield "soup-w6-%d" % k, html, w6


def result_digest(r) -> str:
    """sha256 over everything clean_html returns for one document."""
    key = (r.text, r.error, r.bytes_in, r.bytes_out,
           tuple(sorted(r.rules_fired.items())))
    return hashlib.sha256(repr(key).encode("utf-8")).hexdigest()


def engine_digest() -> list:
    """["<name> <sha256>", ...] of the current engine over digest_inputs()."""
    return [
        "%s %s" % (name, result_digest(
            clean_html(html, rules) if rules else clean_html(html)))
        for name, html, rules in digest_inputs()
    ]


def oracle_digest() -> list:
    """["<query> <sha256>", ...] over __spark_entry__.oracle_sql()."""
    import __spark_entry__

    return [
        "%s %s" % (name, hashlib.sha256(sql.encode("utf-8")).hexdigest())
        for name, sql in __spark_entry__.oracle_sql().items()
    ]


def read_digest(path: str = DIGEST_PATH) -> list:
    with open(path) as f:
        return f.read().splitlines()


def digest_diffs(expected: list, got: list) -> list:
    """Names whose digest differs (or that only one side has)."""
    return sorted(set(line.split()[0] for line in set(expected) ^ set(got)))


def main(check_only: bool = False) -> int:
    n_bad = 0
    for rule_dir, cases in sorted(FIXTURES.items()):
        d = os.path.join(FIXTURE_DIR, rule_dir)
        os.makedirs(d, exist_ok=True)
        rules = SPECIAL_RULES.get(rule_dir)
        for nn, html in sorted(cases.items()):
            result = clean_html(html, rules) if rules else clean_html(html)
            if result.error:
                print("ERROR %s/%s: %s" % (rule_dir, nn, result.error))
                n_bad += 1
                continue
            in_path = os.path.join(d, "%s.in.html" % nn)
            out_path = os.path.join(d, "%s.out.html" % nn)
            if check_only:
                with open(out_path) as f:
                    if f.read() != result.text:
                        print("DRIFT %s/%s" % (rule_dir, nn))
                        n_bad += 1
                continue
            with open(in_path, "w") as f:
                f.write(html)
            with open(out_path, "w") as f:
                f.write(result.text)
            print("== %s/%s" % (rule_dir, nn))
            print(result.text)
    for path, digest in ((DIGEST_PATH, engine_digest()),
                         (ORACLE_DIGEST_PATH, oracle_digest())):
        if check_only:
            for name in digest_diffs(read_digest(path), digest):
                print("DIGEST DRIFT %s %s" % (os.path.basename(path), name))
                n_bad += 1
        else:
            with open(path, "w") as f:
                f.write("\n".join(digest) + "\n")
    return n_bad


if __name__ == "__main__":
    sys.exit(1 if main("--check" in sys.argv) else 0)
