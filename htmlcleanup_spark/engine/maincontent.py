"""DOM-heuristic main-content extraction: the north rule's "DOM heuristics"
leg, complementing the rule-driven cascade.

Where the cascade (reference: cleanup_msfp.py's ordered rewrite rules)
normalizes *markup*, this module answers the other extraction question a
crawl pipeline asks: *which blocks of a page are article content vs
boilerplate chrome*.  The algorithm is a deterministic simplification of
the public jusText/boilerpipe family:

1. segment the DOM into rendered blocks — maximal runs of inline content
   under the nearest block-level ancestor;
2. score each block: visible chars, chars under ``<a>`` (link density),
   semantic-ancestor flags (``nav/header/footer/aside/form`` ⇒ chrome);
3. classify GOOD / BAD / SHORT by thresholds, then one smoothing pass —
   a SHORT block adjacent (document order) to a first-pass GOOD block is
   promoted (headlines and pull-quotes ride with their article).

Pure per-document function — in the Spark plan it occupies the same
stateless-map slot as the cascade (zero shuffles), exposed via
Arrow-batched ``mapInPandas`` in ``__spark_entry__.q_main_content``.
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from . import dom

# block-level boundaries; everything else is treated as inline
_BLOCK_TAGS = frozenset(
    "html body div p h1 h2 h3 h4 h5 h6 li td th blockquote pre article "
    "section main aside nav header footer ul ol table thead tbody tr form "
    "dl dt dd center hr".split()
)
# ancestors that mark a block as page chrome regardless of its text
_CHROME_TAGS = frozenset("nav header footer aside form".split())

_WS_RE = re.compile(r"\s+")

GOOD_MIN_CHARS = 80
SHORT_MAX_CHARS = 40
MAX_LINK_DENSITY = 0.33


class _Block:
    __slots__ = ("chars", "link_chars", "chrome", "parts", "label")

    def __init__(self, chrome: bool):
        self.chars = 0
        self.link_chars = 0
        self.chrome = chrome
        self.parts = []
        self.label = None

    def text(self) -> str:
        return _WS_RE.sub(" ", "".join(self.parts)).strip()


def _segment(root) -> list:
    """Depth-first walk emitting blocks in document order.

    One pass over ``dom.descendants`` (no recursion, so any nesting depth
    segments).  Each open tag pushes the (chrome, in_link, is_block) its
    descendants see; its exit pops it and, for a block, closes the block.
    """
    blocks = []
    cur = None  # current open block
    ctx = [(False, False, False)]
    skip = 0  # > 0 while inside script/style/head/title: depth of open tags

    def close(b):
        if b is not None and b.text():
            blocks.append(b)

    for node in dom.descendants(root, exits=True):
        if skip:
            if node is None:
                skip -= 1
            elif node.__class__ is dom.Tag:
                skip += 1
            continue
        if node is None:
            if ctx.pop()[2]:
                close(cur)
                cur = None
            continue
        chrome, in_link, _ = ctx[-1]
        if node.is_text:
            t = node.value
            if cur is None:
                if not t.strip():
                    continue
                cur = _Block(chrome)
            cur.parts.append(t)
            n = len(_WS_RE.sub(" ", t).strip())
            cur.chars += n
            if in_link:
                cur.link_chars += n
        elif node.__class__ is dom.Tag:
            name = node.name.lower()
            if name in ("script", "style", "head", "title"):
                skip = 1
            elif name in _BLOCK_TAGS:
                close(cur)
                cur = None
                ctx.append((chrome or name in _CHROME_TAGS, in_link, True))
            else:  # inline
                if cur is None:
                    cur = _Block(chrome)
                if name == "br":
                    cur.parts.append(" ")
                ctx.append((chrome, in_link or name == "a", False))
        # comments/declarations: no text contribution
    close(cur)
    return blocks


def _classify(blocks) -> None:
    for b in blocks:
        density = (b.link_chars / b.chars) if b.chars else 1.0
        if b.chrome or density > MAX_LINK_DENSITY:
            b.label = "bad"
        elif b.chars >= GOOD_MIN_CHARS:
            b.label = "good"
        elif b.chars <= SHORT_MAX_CHARS:
            b.label = "short"
        else:
            b.label = "near"
    # smoothing against FIRST-pass labels (simultaneous update: a chain of
    # shorts does not cascade into the page chrome)
    first = [b.label for b in blocks]
    for i, b in enumerate(blocks):
        if b.label in ("short", "near"):
            prev_good = i > 0 and first[i - 1] == "good"
            next_good = i + 1 < len(blocks) and first[i + 1] == "good"
            b.label = "good" if (prev_good or next_good) else "bad"


def main_content(html) -> Tuple[Optional[str], Optional[int], Optional[int],
                                Optional[str]]:
    """(main_text, n_blocks, n_good, error) — total on arbitrary input.

    ``main_text`` is the GOOD blocks' normalized text joined by newlines in
    document order; ``n_blocks`` counts all non-empty rendered blocks.
    """
    try:
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8", errors="replace")
        if html is None:
            return None, None, None, "null input"
        tree = dom.parse(html)
        blocks = _segment(tree)
        _classify(blocks)
        good = [b.text() for b in blocks if b.label == "good"]
        return "\n".join(good), len(blocks), len(good), None
    except Exception as exc:  # totality: failures are values
        return None, None, None, "%s: %s" % (type(exc).__name__, exc)


# ---------------------------------------------------------------------------
# deterministic synthetic article corpus (arithmetic twin in the SQL oracle)
# ---------------------------------------------------------------------------

FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt ut labore."
)


def synth_article_html(doc_id: int) -> str:
    """A page with known chrome and known article body:

    - header nav (3 links, 1 block, chrome ⇒ BAD),
    - sidebar ``<ul>`` of 3 link-only ``<li>`` blocks (density 1 ⇒ BAD),
    - ``<h1>`` headline (SHORT, promoted by the adjacent GOOD paragraph),
    - 2 + doc_id % 3 long paragraphs (GOOD),
    - a short pull-quote after paragraph 0 when doc_id % 3 == 0
      (SHORT, promoted by both neighbours),
    - footer links (chrome ⇒ BAD).

    Expected main text / block counts are pure arithmetic in doc_id — the
    ``main_content`` oracle re-derives them in ANSI SQL.
    """
    n_paras = 2 + doc_id % 3
    parts = [
        "<html><head><title>t%d</title></head><body>" % doc_id,
        '<header><nav><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/b">Archive</a></nav></header>',
        '<aside><ul><li><a href="/1">One</a></li><li><a href="/2">Two</a>'
        '</li><li><a href="/3">Three</a></li></ul></aside>',
        "<article><h1>Story %d headline</h1>" % doc_id,
    ]
    for j in range(n_paras):
        parts.append("<p>Story %d para %d. %s</p>" % (doc_id, j, FILLER))
        if j == 0 and doc_id % 3 == 0:
            parts.append("<blockquote>Quote %d</blockquote>" % doc_id)
    parts.append(
        '</article><footer><a href="/c">Contact</a> <a href="/t">Terms</a> '
        "&copy; site</footer></body></html>"
    )
    return "".join(parts)


def expected_main_content(doc_id: int) -> Tuple[str, int, int]:
    """(main_text, n_blocks, n_good) the classifier must produce on
    :func:`synth_article_html` — derived from the page RECIPE, not by
    running the classifier."""
    n_paras = 2 + doc_id % 3
    quote = 1 if doc_id % 3 == 0 else 0
    lines = ["Story %d headline" % doc_id]
    for j in range(n_paras):
        lines.append("Story %d para %d. %s" % (doc_id, j, FILLER))
        if j == 0 and quote:
            lines.append("Quote %d" % doc_id)
    # blocks: nav(1) + li(3) + h1 + paras + quote + footer(1)
    n_blocks = 5 + 1 + n_paras + quote
    n_good = 1 + n_paras + quote
    return "\n".join(lines), n_blocks, n_good
