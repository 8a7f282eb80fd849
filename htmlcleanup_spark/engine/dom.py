"""Minimal lenient HTML tokenizer + mutable DOM + serializer.

This is the in-UDF document representation for the extraction engine.
It is written from scratch for vectorized batch execution: one plain-Python
tree per document, built inside an Arrow batch loop, never visible to Spark.

The node model deliberately mirrors the shape the reference rule semantics
assume (reference: rmuit/HtmlCleanup, soupcleanup.py:70 `Tag, NavigableString`;
cleanup_msfp.py:88 `BeautifulSoup(html)`): a ``Tag`` has an ordered attribute
list, an ordered ``contents`` list, and a parent pointer; text/comments are
leaves whose *adjacency* matters.  Serialization follows the conventions the
reference's output contract depends on (attribute order preserved, void tags
as ``<br />`` with the final sink rewriting ``<br />`` -> ``<br>``,
cleanup_msfp.py:300-302).

Parsing leniency: the reference relies on pre-parse string repair
(cleanup_msfp.py:47-84) to remove the constructs that confuse tree builders,
so this parser only needs mainstream leniency: ignore unmatched end tags,
implicitly close ``p``/``li``/``td``/``tr`` on a new sibling, close open tags
at EOF.  Entities are NOT decoded (``&nbsp;`` stays literal text — the
whitespace algebra depends on that, soupcleanup.py:31-45).

Tree walks: every whole-tree walk goes through :func:`descendants`, one
pre-order iterator on an explicit stack, so no page is too deeply nested to
walk (recursive walkers hit Python's recursion limit near 1,000 levels).
``find_all``, ``find_all_multi``, ``find`` (which stops at the first match,
as ``Document.body`` does) and the serializer use it; so do
``maincontent._segment`` and ``operators.links.outlinks_of``.  The cascade
walks each document twice plus the S3 descent from ``<body>``; which pass
reuses which walk, and why that is exact, is stated in
``CascadeEngine.run``.

Building: :func:`parse` matches the text before a tag and the tag itself
with one compiled pattern, appends each node to the end of a fresh tree
without ``Tag.insert``'s detach/clamp logic, and hands each tag its
attribute list without copying it.
"""

from __future__ import annotations

import re

# Tags serialized self-closing and never pushed on the open stack.
# (Superset of BeautifulSoup v3's SELF_CLOSING_TAGS.)
VOID_TAGS = frozenset(
    "br hr input img meta spacer link frame base area col embed param "
    "source track wbr basefont isindex".split()
)

# Implicit-close rules: a new start tag of <key> closes the nearest open tag
# in <closes>, unless a <boundary> tag sits in between on the open stack.
_IMPLICIT_CLOSE = {
    "p": (frozenset({"p"}), frozenset({"td", "th", "li", "caption", "body", "html", "table", "ul", "ol"})),
    "li": (frozenset({"li", "p"}), frozenset({"ul", "ol", "body", "html"})),
    "tr": (frozenset({"tr", "td", "th"}), frozenset({"table", "body", "html"})),
    "td": (frozenset({"td", "th"}), frozenset({"tr", "table", "body", "html"})),
    "th": (frozenset({"td", "th"}), frozenset({"tr", "table", "body", "html"})),
    "option": (frozenset({"option"}), frozenset({"select", "body", "html"})),
}

_RAWTEXT_TAGS = frozenset({"script", "style", "textarea"})

_RX_TAG_NAME = re.compile(r"[a-zA-Z][^\s>/]*")
_RX_ATTR = re.compile(
    r"""\s*([^\s=/>]+)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


class Node:
    """Base node: parent pointer + O(1) doubly-linked sibling pointers.

    Sibling pointers are maintained by Tag.insert / Node.extract so the
    cascade's heavy sibling walks don't pay an O(children) index scan per
    step (they did in the first version; profiling on wide bodies showed it).
    Each subclass sets the four shared slots itself: the parser builds a
    hundred thousand nodes per large page, and a ``super().__init__`` call
    per node was a measurable share of parse time.
    """

    __slots__ = ("parent", "previous_sibling", "next_sibling", "_idx_hint")

    # -- tree navigation ---------------------------------------------------
    def index_in_parent(self) -> int:
        """Index of this node in parent.contents (identity match).

        Same identity semantics as the reference's scan
        (soupcleanup.py:192-208), accelerated by a self-repairing index hint:
        exact hits are O(1); after sibling inserts/removals the position has
        only drifted, so an outward scan from the hint finds it in O(drift).
        """
        c = self.parent.contents
        n = len(c)
        h = self._idx_hint
        if 0 <= h < n and c[h] is self:
            return h
        lo, hi = min(h - 1, n - 1), max(h + 1, 0)
        while lo >= 0 or hi < n:
            if lo >= 0 and c[lo] is self:
                self._idx_hint = lo
                return lo
            if hi < n and c[hi] is self:
                self._idx_hint = hi
                return hi
            lo -= 1
            hi += 1
        raise ValueError("node not found in its own parent")

    def extract(self):
        """Detach this node from its parent (keeps subtree intact)."""
        if self.parent is not None:
            del self.parent.contents[self.index_in_parent()]
            self.parent = None
            if self.previous_sibling is not None:
                self.previous_sibling.next_sibling = self.next_sibling
            if self.next_sibling is not None:
                self.next_sibling.previous_sibling = self.previous_sibling
            self.previous_sibling = None
            self.next_sibling = None
        return self


class Text(Node):
    """Text leaf. Entities are kept literal (``&nbsp;`` is 6 chars).

    Unlike BeautifulSoup's immutable NavigableString, replace_with mutates in
    place — identity is preserved, which all in-pass sibling walks rely on.
    """

    __slots__ = ("value",)

    is_text = True

    def __init__(self, value: str):
        self.parent = self.previous_sibling = self.next_sibling = None
        self._idx_hint = 0
        self.value = value

    def replace_with(self, value: str):
        self.value = value
        return self

    def find(self, sub: str) -> int:
        return self.value.find(sub)

    def __str__(self):
        return self.value


class Comment(Node):
    __slots__ = ("value",)
    is_text = False

    def __init__(self, value: str):
        self.parent = self.previous_sibling = self.next_sibling = None
        self._idx_hint = 0
        self.value = value

    def __str__(self):
        return "<!--%s-->" % self.value


class Declaration(Node):
    """Doctype / processing instruction, kept verbatim (value includes <...>)."""

    __slots__ = ("value",)
    is_text = False

    def __init__(self, value: str):
        self.parent = self.previous_sibling = self.next_sibling = None
        self._idx_hint = 0
        self.value = value

    def __str__(self):
        return self.value


class Tag(Node):
    """Element node: ordered attrs (list of [name, value]) + ordered contents."""

    __slots__ = ("name", "attrs", "contents")

    is_text = False

    def __init__(self, name: str, attrs=None):
        """``attrs``: a list of [name, value] lists, owned by the tag from
        now on (not copied)."""
        self.parent = self.previous_sibling = self.next_sibling = None
        self._idx_hint = 0
        self.name = name
        self.attrs = attrs if attrs is not None else []
        self.contents = []

    # -- attribute access (dict-ish over an ordered pair list) -------------
    def get(self, name, default=None):
        for k, v in self.attrs:
            if k == name:
                return v
        return default

    def __getitem__(self, name):
        v = self.get(name)
        if v is None:
            raise KeyError(name)
        return v

    def __setitem__(self, name, value):
        """Replace the first occurrence in place (position kept), else append."""
        for pair in self.attrs:
            if pair[0] == name:
                pair[1] = value
                return
        self.attrs.append([name, value])

    def __delitem__(self, name):
        """Delete all attributes with this name; no error if absent.

        (The cascade deletes unconditionally, e.g. set_alignment's
        ``del tag['align']`` — soupcleanup.py:321.)
        """
        self.attrs = [pair for pair in self.attrs if pair[0] != name]

    # -- children -----------------------------------------------------------
    def insert(self, index: int, node: Node):
        """Insert node at index; implicitly detaches it from any old parent."""
        if node.parent is not None:
            node.extract()
        c = self.contents
        if index < 0:
            index = max(len(c) + index, 0)
        elif index > len(c):
            index = len(c)
        prev = c[index - 1] if index > 0 else None
        nxt = c[index] if index < len(c) else None
        c.insert(index, node)
        node.parent = self
        node._idx_hint = index
        node.previous_sibling = prev
        node.next_sibling = nxt
        if prev is not None:
            prev.next_sibling = node
        if nxt is not None:
            nxt.previous_sibling = node

    def append(self, node: Node):
        self.insert(len(self.contents), node)

    def find_all(self, name=None, recursive=True):
        """Snapshot list of matching descendant tags, in pre-order (like the
        reference's findAll usage).

        - name: tag name to match (None: every tag)
        - recursive: False = direct children only
        """
        nodes = descendants(self) if recursive else self.contents
        return [n for n in nodes
                if n.__class__ is Tag and (name is None or n.name == name)]

    def find_all_multi(self, names, comments=None) -> dict:
        """One pre-order walk bucketing tags by name: {name: [tags]}; with
        a ``comments`` list, the walk also appends every Comment to it.

        Equivalent to one find_all per name ONLY when processing tags of one
        name neither creates nor extracts tags of another name in the set —
        the cascade groups passes under that invariant (see run()).
        """
        buckets = {n: [] for n in names}
        get = buckets.get
        for node in descendants(self):
            if node.__class__ is Tag:
                b = get(node.name)
                if b is not None:
                    b.append(node)
            elif comments is not None and node.__class__ is Comment:
                comments.append(node)
        return buckets

    def find(self, name=None):
        """First matching descendant tag in pre-order, or None; stops at
        the first match."""
        for node in descendants(self):
            if node.__class__ is Tag and (name is None or node.name == name):
                return node
        return None

    def __str__(self):
        return serialize(self)


class Document(Tag):
    """Root node; serializes as the concatenation of its children."""

    __slots__ = ()

    def __init__(self):
        super().__init__("[document]")

    @property
    def body(self):
        return self.find("body")


def descendants(root, exits=False):
    """Every node under ``root`` in document (pre-)order; ``root`` itself is
    not yielded.

    The one tree walk of the engine: the cascade's collecting walks, the
    ``find*`` methods, the serializer and the DOM readers outside the
    engine all iterate this.  It runs on an explicit stack, so no nesting
    depth can exhaust the interpreter's recursion limit.  A node's children
    are read when the walk reaches the node, so a caller that edits the
    tree collects what it needs first (``find_all`` returns such a list).

    With ``exits``, each Tag is followed, after its last descendant, by a
    ``None``: a consumer that pushes on every Tag and pops on every None
    always pops the tag whose subtree just ended.
    """
    stack = root.contents[::-1]
    pop = stack.pop
    push = stack.append
    extend = stack.extend
    while stack:
        node = pop()
        yield node
        if node.__class__ is Tag:
            if exits:
                push(None)
            if node.contents:
                extend(reversed(node.contents))


# ---------------------------------------------------------------------------
# Serializer
# ---------------------------------------------------------------------------

def _start_tag(node, close: str) -> str:
    if not node.attrs:
        return "<" + node.name + close
    parts = ["<", node.name]
    for k, v in node.attrs:
        # Double quotes by default; flip to single if the value contains
        # a double quote (BS3 convention).
        if v is None:
            v = k
        if '"' in v:
            parts.append(" %s='%s'" % (k, v))
        else:
            parts.append(' %s="%s"' % (k, v))
    parts.append(close)
    return "".join(parts)


def serialize(node) -> str:
    """Markup of ``node`` and its subtree; a Document is the concatenation
    of its children."""
    cls = node.__class__
    if cls is Text or cls is Declaration:
        return node.value
    if cls is Comment:
        return "<!--%s-->" % node.value
    out = []
    add = out.append
    # Per open Tag: its end tag, or "" for a void one written as <x />.
    end_tags = []
    push = end_tags.append
    pop = end_tags.pop
    nodes = (descendants(node, exits=True) if cls is Document
             else _with_root(node))
    for n in nodes:
        cls = n.__class__
        if cls is Text:
            add(n.value)
        elif cls is Tag:
            name = n.name
            if n.contents or name not in VOID_TAGS:
                add(_start_tag(n, ">") if n.attrs else "<" + name + ">")
                push("</" + name + ">")
            else:
                add(_start_tag(n, " />"))
                push("")
        elif n is None:
            add(pop())
        elif cls is Comment:
            add("<!--%s-->" % n.value)
        else:
            add(n.value)
    return "".join(out)


def _with_root(tag):
    """``descendants(tag, exits=True)`` with ``tag`` itself around it."""
    yield tag
    yield from descendants(tag, exits=True)
    yield None


# ---------------------------------------------------------------------------
# Tokenizer + tree builder
# ---------------------------------------------------------------------------

# One attribute (name, '=' if a value follows, raw value).
_RX_ATTR = re.compile(
    r"""\s*([^\s=/>]+)(?:\s*(=)\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
# The common token: the text up to the next '<', then a start tag (name,
# then everything up to the first '>') or an end tag.  Anything else at that
# '<' (comment, declaration, stray '<', a tag with no '>') fails the match
# and takes parse()'s slow branch.
_RX_TOKEN = re.compile(r"([^<]*)<(?:([a-zA-Z][^\s>/]*)([^>]*)|/([^>]*))>")
_RX_RAWTEXT_END = {
    name: re.compile(r"</%s\s*>" % name, re.I) for name in _RAWTEXT_TAGS
}


def _parse_attrs(s: str) -> list:
    """[[name, value], ...] for a start tag's inner text.  Names are
    lowercased; a minimized attribute's value is its name (HTML rule); one
    pair of surrounding quotes is stripped."""
    attrs = []
    # The scanner matches each attribute where the previous one ended and
    # stops at the first position where none starts.
    for m in iter(_RX_ATTR.scanner(s).match, None):
        name, eq, raw = m.groups()
        name = name.lower()
        if not eq:
            attrs.append([name, name])
        elif raw[:1] in "\"'":
            attrs.append([name, raw[1:-1]])
        else:
            attrs.append([name, raw])
    return attrs


def parse(html: str) -> Document:
    """Parse an HTML string into a Document tree.

    Lenient: stray ``<`` becomes text, unmatched end tags are dropped,
    open tags are closed at EOF, p/li/td/tr are implicitly closed.

    Nodes are appended to a fresh tree, so each append only links the new
    node after its parent's last child; ``Tag.insert``'s detach and index
    clamping are for the cascade's edits.  Cost is linear in the input:
    closing a tag costs the tags it pops, whatever the nesting depth.
    """
    doc = Document()
    stack = [doc]  # open-tag stack; stack[-1] is the insertion point
    # name -> stack indexes of the open tags with that name, ascending: end
    # tags and implicit closes find their target without scanning the
    # stack, so deep nesting keeps parse linear
    open_at = {}
    pos = 0
    n = len(html)
    find = html.find
    token = _RX_TOKEN.match

    def add(node):
        parent = stack[-1]
        c = parent.contents
        if c:
            prev = c[-1]
            prev.next_sibling = node
            node.previous_sibling = prev
            node._idx_hint = len(c)
        node.parent = parent
        c.append(node)

    def pop_to(i):
        """Close stack[i:]."""
        for t in stack[i:]:
            open_at[t.name].pop()
        del stack[i:]

    def close_to(name):
        """Pop stack down to and including the nearest open <name>; an
        unmatched end tag is silently dropped."""
        at = open_at.get(name)
        if at:
            if at[-1] == len(stack) - 1:  # the innermost open tag
                at.pop()
                stack.pop()
            else:
                pop_to(at[-1])

    def implicit_close(closes, boundary):
        """Close the nearest open tag named in ``closes`` unless a tag
        named in ``boundary`` is open above it."""
        top = 0
        for nm in closes:
            at = open_at.get(nm)
            if at and at[-1] > top:
                top = at[-1]
        if top:
            for nm in boundary:
                at = open_at.get(nm)
                if at and at[-1] > top:
                    return
            pop_to(top)

    while pos < n:
        m = token(html, pos)
        if m is not None:
            text, name, inner, end_name = m.groups()
            pos = m.end()
            if text:  # add(Text(text)), inlined: the most common node
                node = Text(text)
                parent = stack[-1]
                c = parent.contents
                if c:
                    prev = c[-1]
                    prev.next_sibling = node
                    node.previous_sibling = prev
                    node._idx_hint = len(c)
                node.parent = parent
                c.append(node)
            if name is None:
                close_to(end_name.strip().lower())
                continue
            name = name.lower()
            self_closing = False
            if inner:
                if inner.rstrip().endswith("/"):
                    self_closing = True
                    inner = inner.rstrip()[:-1]
                attrs = _parse_attrs(inner) if inner else []
            else:
                attrs = []
            rule = _IMPLICIT_CLOSE.get(name)
            if rule is not None:
                implicit_close(*rule)
            tag = Tag(name, attrs)
            add(tag)
            if self_closing or name in VOID_TAGS:
                continue
            if name in _RAWTEXT_TAGS:
                # Raw-text element: contents are literal until the matching
                # end tag (scripts may contain '<'; the cascade deletes the
                # whole subtree anyway, cleanup_msfp.py:100-101).  An
                # unclosed one keeps the rest as text, even when empty.
                mm = _RX_RAWTEXT_END[name].search(html, pos)
                end = mm.start() if mm else n
                if end > pos or mm is None:
                    text = Text(html[pos:end])
                    text.parent = tag
                    tag.contents.append(text)
                pos = mm.end() if mm else n
            else:
                at = open_at.get(name)
                if at is None:
                    open_at[name] = [len(stack)]
                else:
                    at.append(len(stack))
                stack.append(tag)
            continue

        # Slow branch: whatever the next '<' starts is not a plain tag.
        lt = find("<", pos)
        if lt == -1:
            add(Text(html[pos:]))
            break
        if lt > pos:
            add(Text(html[pos:lt]))
        rest = html[lt + 1 : lt + 2]
        if rest == "!" and html.startswith("<!--", lt):
            end = find("-->", lt + 4)
            if end == -1:
                add(Comment(html[lt + 4 :]))
                break
            add(Comment(html[lt + 4 : end]))
            pos = end + 3
        elif rest == "!" or rest == "?":
            end = find(">", lt)
            if end == -1:
                add(Text(html[lt:]))
                break
            add(Declaration(html[lt : end + 1]))
            pos = end + 1
        elif rest == "/" or _RX_TAG_NAME.match(html, lt + 1):
            # an end or start tag with no '>' after it: the rest is text
            add(Text(html[lt:]))
            break
        else:
            # '<' not starting a tag: literal text
            add(Text("<"))
            pos = lt + 1

    return doc
