"""The ordered DOM rewrite cascade.

From-scratch reimplementation of the rule semantics of rmuit/HtmlCleanup
(cleanup_msfp.py driver order; operator logic specified in soupcleanup.py —
file:line citations on each method) over :mod:`htmlcleanup_spark.engine.dom`.
Pure Python, no Spark: one ``CascadeEngine(rules).run(doc)`` call rewrites one
document tree in place and records per-rule fire counts.

Documented deviations from the reference (each chosen where the reference
would crash or be nondeterministic; the fixture corpus encodes these):

- non-ASCII quirk: the reference's ``regex_search`` refuses to match any
  *text node* whose py2 repr contains ``\\u``/``\\x`` escapes
  (soupcleanup.py:172-190), so whitespace ops skip non-ASCII strings.  We
  reproduce that for text nodes.  Tags are never refused (BS3 tags
  utf-8-encode without escapes), and ``get_tag_name`` returns the real name
  instead of inheriting the refusal through double-repr.
- class-set merge order (soupcleanup.py:751-758) and style-dict rebuild order
  (soupcleanup.py:263-267) depend on py2 hash order; we use sorted order and
  insertion order respectively — deterministic.
- empty-tag guards: ``move_whitespace_to_parent`` with ``remove_if_empty=
  False`` on an empty tag, ``strip_leading_whitespace``'s re-add with no
  surviving node, and the trailing-empty-<p> walk through an empty <div>
  would IndexError/AttributeError in the reference; we no-op instead.
"""

from __future__ import annotations

import re

from .dom import Comment, Declaration, Document, Tag, Text, serialize
from .rules import DEFAULT_RULES, RuleConfig


class CascadeError(Exception):
    """A document the cascade refuses to process (reference raises here too).

    Caught per document by the Spark job and routed to the error column.
    """


# Destination tags that may absorb a mangled wrapper's attributes
# (soupcleanup.py:611,626).
_DEST_TAG_NAMES = ("a", "p", "span", "div", "h2", "h3", "h4", "li", "blockquote")

# --- whitespace regex algebra, patterns per soupcleanup.py:79-120 ----------
RX_SPACEHTML_ONLY = re.compile(r"^(?:\s|\&nbsp\;|\<br ?\/?\>)+$")
RX_NEWLINE = re.compile(r"\s*\n+\s*")
RX_NBSPACE_ONLY = re.compile(r"^(?:\s|\&nbsp\;)+$")
RX_NBSPACE_AT_START = re.compile(r"^((?:\s|\&nbsp\;)+)")
RX_NBSPACE_AT_END = re.compile(r"((?:\s|\&nbsp\;)+)$")
RX_SPACES_AT_START = re.compile(r"^(\s+)")
RX_MULTISPACE = re.compile(r"(\s{2,})")
RX_MULTISPACE_AT_START = re.compile(r"^(\s{2,})")
# Only a *single* consecutive &nbsp; participates in a dedupable run
# (lookarounds per soupcleanup.py:109-120).
RX_MULTINBSPACE = re.compile(r"((?:\s|(?<!\;)\&nbsp\;(?!\&nbsp\;)){2,})")
RX_MULTINBSPACE_AT_START = re.compile(r"^((?:\s|(?<!\;)\&nbsp\;(?!\&nbsp\;)){2,})")
RX_MULTINBSPACE_NOT_AT_START = re.compile(
    r"(\S)(?<!\&nbsp\;)((?:\s|(?<!\;)\&nbsp\;(?!\&nbsp\;)){2,})"
)

# What any of the dedupe patterns needs somewhere in the string.
_RX_DEDUPABLE = re.compile(r"\s\s|\&nbsp\;")

# Anchored whitespace-class regexes can never match a serialized tag (which
# starts with '<' and ends with '>') — used for a fast non-serializing path.
_TEXT_ONLY_RXS = (
    RX_NBSPACE_ONLY,
    RX_NBSPACE_AT_START,
    RX_NBSPACE_AT_END,
    RX_SPACES_AT_START,
    RX_MULTISPACE_AT_START,
    RX_MULTINBSPACE_AT_START,
)

# Patterns anchored at the string start whose first item is whitespace,
# an &nbsp; or a <br>: a match needs the first char to be one of \s, & or <.
_START_ANCHORED_RXS = frozenset((
    RX_SPACEHTML_ONLY,
    RX_NBSPACE_ONLY,
    RX_NBSPACE_AT_START,
    RX_SPACES_AT_START,
    RX_MULTISPACE_AT_START,
    RX_MULTINBSPACE_AT_START,
))

_BR_MATCH = RX_SPACEHTML_ONLY.search("<br />")  # constant truthy match object


# Any char py2 repr would escape as \x/\u: outside printable ASCII + \t\n\r.
_RX_REPR_ESCAPED = re.compile(r"[^\t\n\r -~]")


def _has_non_ascii(s: str) -> bool:
    """True if py2 repr(s) would contain a \\u or \\x escape."""
    return _RX_REPR_ESCAPED.search(s) is not None


def get_tag_name(element) -> str:
    """Tag name, or '' for strings/comments/None (soupcleanup.py:210-220)."""
    if isinstance(element, Tag):
        return element.name
    return ""


def regex_search(element, rx):
    """Safe regex match over an element (soupcleanup.py:172-190).

    Text nodes containing non-ASCII are never matched (the reference quirk);
    tags match against their serialization, with fast paths that avoid
    serializing subtrees for the whitespace-class regexes.
    """
    if element is None or isinstance(element, str):
        if element is None:
            return None
        if _has_non_ascii(element):
            return None
        return rx.search(element)
    if element.__class__ is Text:
        v = element.value
        # Cheap refusals first: these patterns are anchored at one end of
        # the string, and that end must start a whitespace run.
        if rx is RX_NBSPACE_AT_END:
            if not (v[-1:].isspace() or v.endswith("&nbsp;")):
                return None
        elif rx in _START_ANCHORED_RXS:
            c = v[:1]
            if not (c.isspace() or c == "&" or c == "<"):
                return None
        if _has_non_ascii(v):
            return None
        return rx.search(v)
    # Tag / Comment / Declaration
    if rx is RX_SPACEHTML_ONLY:
        if (
            isinstance(element, Tag)
            and element.name == "br"
            and not element.attrs
            and not element.contents
        ):
            return _BR_MATCH
        if isinstance(element, Tag):
            return None
        return rx.search(str(element))
    if rx in _TEXT_ONLY_RXS and isinstance(element, (Tag, Comment, Declaration)):
        return None
    return rx.search(serialize(element))


def still_attached(nodes, root) -> list:
    """The nodes still in ``root``'s tree, order kept.

    Each node's ancestor chain is climbed only until it meets an ancestor
    already classified, so the whole filter is linear in the tree size.
    """
    known = {root: True}
    out = []
    for node in nodes:
        chain = []
        p = node
        while p is not None and p not in known:
            chain.append(p)
            p = p.parent
        attached = p is not None and known[p]
        for c in chain:
            known[c] = attached
        if attached:
            out.append(node)
    return out


class _AlignFrame:
    """One tag's pending check_alignment call: its arguments, its child
    tags and how far through them it is, and the child being visited."""

    __slots__ = ("tag", "align", "allow_change", "children", "next", "seen",
                 "last_seen", "child", "child_name", "child_alignment")

    def __init__(self, tag, align, allow_change):
        self.tag = tag
        self.align = align
        self.allow_change = allow_change
        self.children = []
        self.next = 0
        self.seen = {}  # seen_alignments
        self.last_seen = None
        self.child = self.child_name = self.child_alignment = None


class CascadeEngine:
    """All DOM-rewrite operators + the driver-ordered cascade."""

    def __init__(self, rules: RuleConfig = DEFAULT_RULES):
        self.rules = rules
        self.inline_tag_names = tuple(rules.inline_tag_names)
        self.dedupe_nbsp = rules.dedupe_nbsp
        self.remove_attributes = rules.remove_attributes
        self.remove_styles = rules.remove_styles
        self._img_bullet_rx = re.compile(rules.img_bullet_re)
        self.fired: dict[str, int] = {}
        # <span>s mangle_tag made to replace a <font>: run() re-walks for
        # the I3 span pass when this grows
        self.spans_created = 0

    def _bump(self, rule: str, n: int = 1):
        if n:
            self.fired[rule] = self.fired.get(rule, 0) + n

    # ------------------------------------------------------------------
    # small structural helpers (soupcleanup.py:793-853)
    # ------------------------------------------------------------------

    def get_contents(self, tag, contents_type):
        """Filtered direct contents (soupcleanup.py:793-806)."""
        if contents_type == "nonwhitespace_string":
            # Direct regex (no non-ASCII guard): matches the reference, which
            # applies the raw pattern in a findAll lambda (soupcleanup.py:802).
            return [
                c
                for c in tag.contents
                if isinstance(c, Text) and RX_NBSPACE_ONLY.match(c.value) is None
            ]
        if contents_type == "tags":
            return [c for c in tag.contents if isinstance(c, Tag)]
        return tag.contents

    # Short-circuit twins of get_contents for the hot emptiness / single-child
    # checks in mangle_tag & co — same semantics, O(1)-ish instead of
    # scanning a wide tag's whole child list (the profile showed this as the
    # dominant quadratic term on bodies with thousands of direct children).

    @staticmethod
    def _has_nonws_string(tag) -> bool:
        """Truthiness of get_contents(tag, 'nonwhitespace_string')."""
        for c in tag.contents:
            if c.__class__ is Text and RX_NBSPACE_ONLY.match(c.value) is None:
                return True
        return False

    @staticmethod
    def _child_tags_capped(tag, cap: int = 2) -> list:
        """Child tags, stopping after `cap` — enough for len()==1 checks."""
        out = []
        for c in tag.contents:
            if isinstance(c, Tag):
                out.append(c)
                if len(out) >= cap:
                    break
        return out

    def move_contents_inside(self, from_tag, to_tag, insert_at_index=0,
                             starting_from_index=0):
        """Splice (the tail of) one tag's children into another
        (soupcleanup.py:814-853).

        End state identical to inserting one-by-one like the reference, but
        done as a single list splice + pointer rewire (O(k + n) not O(k*n)).
        """
        moving = from_tag.contents[starting_from_index:]
        if not moving:
            return
        del from_tag.contents[starting_from_index:]
        if starting_from_index > 0:
            from_tag.contents[starting_from_index - 1].next_sibling = None
        to = to_tag.contents
        prev = to[insert_at_index - 1] if insert_at_index > 0 else None
        nxt = to[insert_at_index] if insert_at_index < len(to) else None
        to[insert_at_index:insert_at_index] = moving
        for k, n in enumerate(moving, insert_at_index):
            n.parent = to_tag
            n._idx_hint = k
        # moved nodes were contiguous siblings: their inner chain is intact
        moving[0].previous_sibling = prev
        moving[-1].next_sibling = nxt
        if prev is not None:
            prev.next_sibling = moving[0]
        if nxt is not None:
            nxt.previous_sibling = moving[-1]

    def move_contents_before(self, from_tag, before_element):
        """Move children out of a tag to just before an element
        (soupcleanup.py:808-812)."""
        self.move_contents_inside(
            from_tag, before_element.parent, before_element.index_in_parent()
        )

    # ------------------------------------------------------------------
    # style / alignment micro-model (soupcleanup.py:222-321)
    # ------------------------------------------------------------------

    @staticmethod
    def get_style_properties(tag) -> dict:
        """Parse the style attribute into {lowercase-name: value}
        (soupcleanup.py:222-235)."""
        style_attr = tag.get("style")
        properties = {}
        if style_attr:
            for property_def in style_attr.split(";"):
                if property_def.strip() != "":
                    name, value = property_def.split(":", 1)
                    properties[name.strip().lower()] = value.strip()
        return properties

    @staticmethod
    def set_style_property(tag, set_name, set_value):
        """Set/delete one style property (soupcleanup.py:237-287).

        Faithful to the reference, including the quirk that setting '' on a
        tag *without* a style attribute writes ``style="name: "``.
        """
        style_attr = tag.get("style")
        set_name = set_name.strip().lower()
        if style_attr:
            properties = {}
            for property_def in style_attr.split(";"):
                name, value = property_def.split(":", 1)
                properties[name.strip().lower()] = value.strip()
            if set_name in properties:
                if set_value != "":
                    properties[set_name] = set_value
                else:
                    del properties[set_name]
                style_attr = "; ".join(
                    "%s: %s" % (n, v) for n, v in properties.items()
                )
            elif set_value != "":
                style_attr = style_attr.strip()
                if style_attr != "":
                    if not style_attr.endswith(";"):
                        style_attr += ";"
                    style_attr += " "
                style_attr += set_name + ": " + set_value
        else:
            style_attr = set_name + ": " + set_value

        if style_attr != "":
            tag["style"] = style_attr
        else:
            del tag["style"]

    def get_alignment(self, tag):
        """'align' attr, else style text-align; middle -> center
        (soupcleanup.py:289-303)."""
        alignment = tag.get("align")
        if not alignment:
            styles = self.get_style_properties(tag)
            if "text-align" in styles:
                alignment = styles["text-align"]
        if alignment == "middle":
            alignment = "center"
        return alignment

    def set_alignment(self, tag, value):
        """Write alignment as text-align style; <img> keeps the align attr
        (soupcleanup.py:305-321)."""
        if get_tag_name(tag) != "img":
            self.set_style_property(tag, "text-align", value)
        elif value != "":
            tag["align"] = value
            return
        del tag["align"]

    # ------------------------------------------------------------------
    # S3: recursive alignment minimization (soupcleanup.py:340-443)
    # ------------------------------------------------------------------

    def _open_alignment_frame(self, parent_tag, parent_align,
                              allow_parent_change):
        """Entry half of check_alignment for one tag: unwrap superfluous
        <center> children, pin inherited text, snapshot the child tags."""
        if parent_align == "center":
            for tag in parent_tag.find_all("center", recursive=False):
                self.move_contents_before(tag, tag)
                tag.extract()
                self._bump("s3_alignment")
        f = _AlignFrame(parent_tag, parent_align, allow_parent_change)
        for c in parent_tag.contents:
            if c.__class__ is Tag:
                f.children.append(c)
            elif (c.__class__ is Text and "inherit" not in f.seen
                    and RX_NBSPACE_ONLY.match(c.value) is None):
                # Non-whitespace text inherits the parent alignment: pin it.
                f.seen["inherit"] = True
        return f

    def check_alignment(self, parent_tag, parent_align, allow_parent_change=""):
        """Delete explicit alignments equal to the inherited one; bubble
        uniform child alignment up; unwrap superfluous <center>.

        The reference recurses once per tag (soupcleanup.py:340-443); this
        runs the same visit order on an explicit stack of frames, so a page
        nested deeper than the interpreter's recursion limit still cleans.
        Returns the root's seen_alignments.
        """
        stack = [self._open_alignment_frame(parent_tag, parent_align,
                                            allow_parent_change)]
        child_alignments = None
        while True:
            f = stack[-1]
            if child_alignments is not None:
                # The subtree of f's current child is done.
                tag, tag_alignment = f.child, f.child_alignment
                if f.child_name == "center":
                    if "CHANGE" in child_alignments:
                        self.move_contents_before(tag, tag)
                        tag.extract()
                        self._bump("s3_alignment")
                else:
                    if "CHANGE" in child_alignments:
                        self.set_alignment(tag, child_alignments["CHANGE"])
                        tag_alignment = child_alignments["CHANGE"]
                        self._bump("s3_alignment")

                    if tag_alignment:
                        if tag_alignment == f.align:
                            self.set_alignment(tag, "")
                            f.seen["inherit"] = True
                            self._bump("s3_alignment")
                        else:
                            f.last_seen = tag_alignment
                            f.seen[tag_alignment] = True
                    else:
                        f.seen["inherit"] = True
                child_alignments = None

            if f.next < len(f.children):
                tag = f.children[f.next]
                f.next += 1
                tag_name = tag.name
                tag_alignment = self.get_alignment(tag)
                if tag_alignment:
                    current_alignment = tag_alignment
                    allow_change = "any"
                elif tag_name == "center":
                    current_alignment = "center"
                    allow_change = f.align
                else:
                    current_alignment = f.align
                    allow_change = "any" if tag_name == "p" else ""
                f.child, f.child_name = tag, tag_name
                f.child_alignment = tag_alignment
                for c in tag.contents:
                    if c.__class__ is Tag:
                        stack.append(self._open_alignment_frame(
                            tag, current_alignment, allow_change))
                        break
                else:
                    # No child tags: its call could unwrap no <center> and
                    # can only return {} or {"inherit": True}, never
                    # "CHANGE", so skip the frame.
                    child_alignments = {}
                continue

            # All children done: close this tag's frame.
            stack.pop()
            seen_alignments, last_seen = f.seen, f.last_seen
            if (
                len(seen_alignments) == 1
                and "inherit" not in seen_alignments
                and (f.allow_change == "any" or f.allow_change == last_seen)
            ):
                seen_alignments["CHANGE"] = last_seen
                # Only explicit align= attributes are cleared here (not
                # styles) — the reference's asymmetry (soupcleanup.py:440-441).
                for tag in [c for c in f.tag.contents
                            if c.__class__ is Tag
                            and c.get("align") == last_seen]:
                    self.set_alignment(tag, "")
            if not stack:
                return seen_alignments
            child_alignments = seen_alignments

    # ------------------------------------------------------------------
    # I4: attribute/style filter (soupcleanup.py:451-562); idempotent
    # ------------------------------------------------------------------

    def mangle_attributes(self, tag) -> bool:
        if not tag.attrs:
            return False
        changed = False
        tag_name = tag.name
        ra_tag = self.remove_attributes.get(tag_name)
        ra_any = self.remove_attributes.get("*")
        attr_names = [pair[0] for pair in tag.attrs]
        for orig_name in attr_names:
            orig_value = tag.get(orig_name)
            if orig_value is None:  # duplicate name already removed
                continue
            name = orig_name.lower()
            lower_value = value = orig_value.lower()

            remove = False
            rules = None
            if ra_tag is not None and name in ra_tag:
                rules = ra_tag[name]
            elif ra_any is not None and name in ra_any:
                rules = ra_any[name]
            if rules is not None:
                if isinstance(rules, (list, tuple)):
                    remove = value in rules
                else:
                    remove = rules == value or rules == "*"
            if remove:
                value = ""

            elif name == "align":
                # set_alignment already rewrites/deletes the attribute, so
                # 'value' is left as-is to skip the change block below
                # (soupcleanup.py:487-492).
                self.set_alignment(tag, value)
                changed = True

            elif name == "class":
                classes = orig_value.split()
                for value in classes:
                    if value.lower() == "msonormal":
                        classes.remove(value)
                value = " ".join(classes)

            elif name == "style":
                value = self._filter_style(tag_name, orig_value)

            # Lowercase names; only rewrite when actually changed
            # (soupcleanup.py:556-562).
            if name != orig_name or value != lower_value:
                if name != orig_name or not value:
                    del tag[orig_name]
                if value:
                    tag[name] = value
                changed = True
        return changed

    def _filter_style(self, tag_name, style) -> str:
        """The style value mangle_attributes keeps (soupcleanup.py:500-552):
        removed, zero-margin and mso- properties dropped, order kept."""
        rs_tag = self.remove_styles.get(tag_name)
        rs_any = self.remove_styles.get("*")
        value = ""
        for property_def in style.split(";"):
            if property_def.strip() != "":
                p_name, p_value = property_def.split(":", 1)
                p_name = p_name.strip()
                p_value = p_value.strip()
                l_p_name = p_name.lower()

                srules = None
                if rs_tag is not None and l_p_name in rs_tag:
                    srules = rs_tag[l_p_name]
                elif rs_any is not None and l_p_name in rs_any:
                    srules = rs_any[l_p_name]
                remove = False
                if srules is not None:
                    l_p_value = p_value.lower()
                    if isinstance(srules, (list, tuple)):
                        remove = l_p_value in srules
                    else:
                        remove = srules == l_p_value or srules == "*"
                if remove:
                    p_value = ""
                elif p_name.startswith("margin"):
                    # str.isnumeric(): '0' qualifies, '0.01' does not
                    # (the reference ran on unicode with the same
                    # semantics, soupcleanup.py:539-543).
                    if p_value.isnumeric() and float(p_value) < 0.02:
                        p_value = ""
                elif p_name.startswith("mso-"):
                    p_value = ""

                if p_value:
                    if value != "":
                        value += "; "
                    value += p_name + ": " + p_value
        return value

    # ------------------------------------------------------------------
    # I3: wrapper-tag elimination with attribute merge (soupcleanup.py:564-791)
    # ------------------------------------------------------------------

    def mangle_tag(self, tag) -> bool:
        dest = None
        dest_is_child = False
        dest_is_new = False

        tag_name = get_tag_name(tag)
        # <a>: only name-anchors without id/href are processed
        # (soupcleanup.py:588-592).
        if tag_name == "a" and (
            not tag.get("name") or tag.get("id") or tag.get("href")
        ):
            return False

        # Candidate destination: single child tag with no non-ws text
        # siblings (preferred: most specific), else the parent when the tag
        # is its only child (soupcleanup.py:594-635).
        parent_tag = tag.parent
        if not self._has_nonws_string(tag):
            r1 = self._child_tags_capped(tag)
            if len(r1) == 1 and get_tag_name(r1[0]) in _DEST_TAG_NAMES:
                # id-collision veto (soupcleanup.py:613-615)
                if not ((tag_name == "a" or tag.get("id")) and r1[0].get("id")):
                    dest = r1[0]
                    dest_is_child = True
        if dest is None:
            if get_tag_name(parent_tag) in _DEST_TAG_NAMES:
                r1 = self._child_tags_capped(parent_tag)
                if len(r1) == 1:
                    has_text = False
                    if tag_name != "a":
                        has_text = self._has_nonws_string(parent_tag)
                    if not has_text:
                        if not ((tag_name == "a" or tag.get("id"))
                                and parent_tag.get("id")):
                            dest = parent_tag

        if dest is None:
            if tag_name == "font":
                # <font> always dies: replace by a fresh <span>
                # (soupcleanup.py:638-648).
                dest = Tag("span")
                parent_tag.insert(tag.index_in_parent(), dest)
                dest_is_new = True
                self.spans_created += 1
            else:
                changed = self.mangle_attributes(tag)
                if not tag.attrs and tag_name in ("span", "div"):
                    self.move_contents_before(tag, tag)
                    tag.extract()
                    return True
                return changed

        self.mangle_attributes(dest)
        merge_classes = ""
        merge_styles = {}
        if tag_name == "font":
            # Convert font attributes into styles (soupcleanup.py:668-722);
            # removal check uses the RAW value (unlike mangle_attributes).
            attr_names = [pair[0] for pair in tag.attrs]
            for orig_name in attr_names:
                name = orig_name.lower()
                value = tag.get(orig_name)
                style_name = ""

                remove = False
                rules = None
                if ("font" in self.remove_attributes
                        and name in self.remove_attributes["font"]):
                    rules = self.remove_attributes["font"][name]
                elif ("*" in self.remove_attributes
                        and name in self.remove_attributes["*"]):
                    rules = self.remove_attributes["*"][name]
                if rules is not None:
                    if isinstance(rules, (list, tuple)):
                        remove = value in rules
                    else:
                        remove = rules in [value, "*"]
                if remove:
                    del tag[name]
                elif name == "color":
                    style_name = "color"
                elif name == "face":
                    style_name = "font-family"
                elif name == "size":
                    style_name = "font-size"

                if style_name:
                    del tag[name]
                    merge_styles[style_name] = value

            if tag.attrs:
                raise CascadeError(
                    "font tag has unknown attributes: %r" % (tag.attrs,)
                )
        else:
            self.mangle_attributes(tag)
            if dest.get("style"):
                merge_styles = self.get_style_properties(tag)
            if dest.get("class"):
                merge_classes = tag.get("class")

        # Move plain attributes (soupcleanup.py:735-748); <a name> -> id.
        for attr_name, attr_value in list(tag.attrs):
            dest_name = (
                attr_name
                if (tag_name != "a" or attr_name != "name")
                else "id"
            )
            dest_value = dest.get(dest_name)
            if not (dest_value and (dest_is_child
                                    or attr_name in ("style", "class"))):
                dest[dest_name] = attr_value

        if merge_classes:
            # Lowercased set-union; sorted for determinism (the reference
            # relies on py2 set order, soupcleanup.py:751-758).
            classes = set(
                c.lower() for c in re.split(r"\s+", dest.get("class"))
            ) | set(c.lower() for c in re.split(r"\s+", merge_classes))
            dest["class"] = " ".join(sorted(classes))

        if merge_styles:
            dest_styles = self.get_style_properties(dest)
            for name in merge_styles:
                # Child values win over parent; a child destination keeps its
                # own (soupcleanup.py:760-775).
                if not (dest_is_child and name in dest_styles):
                    dest_styles[name] = merge_styles[name]
            dest["style"] = "; ".join(
                "%s: %s" % (n, v) for n, v in dest_styles.items()
            )

        if dest_is_new:
            self.move_contents_inside(tag, dest)
        else:
            self.move_contents_before(tag, tag)
        tag.extract()

        if tag_name == "font":
            self.mangle_attributes(dest)
        return True

    # ------------------------------------------------------------------
    # I2: whitespace hoisting out of inline tags (soupcleanup.py:855-1002)
    # ------------------------------------------------------------------

    def _hoist_dest_prev(self, tag):
        """Climb ancestors while insertion would land at an inline tag's
        leading edge (soupcleanup.py:882-888)."""
        t = tag
        while (t.previous_sibling is None
               and get_tag_name(t.parent) in self.inline_tag_names):
            t = t.parent
        return t.parent, t.previous_sibling

    def _hoist_dest_next(self, tag):
        t = tag
        while (t.next_sibling is None
               and get_tag_name(t.parent) in self.inline_tag_names):
            t = t.parent
        return t.parent, t.next_sibling

    def move_whitespace_to_parent(self, tag, remove_if_empty=True) -> bool:
        changed = False
        r = tag.contents
        if not r:
            if remove_if_empty:
                tag.extract()
                return True
            return False  # reference would IndexError; keep the tag

        # Whole-whitespace leading children (spaces, &nbsp;, <br>) move out.
        while r and regex_search(r[0], RX_SPACEHTML_ONLY):
            dest_tag, possible_dest = self._hoist_dest_prev(tag)
            if isinstance(r[0], Tag) or not isinstance(possible_dest, Text):
                dest_index = 0
                if possible_dest is not None:
                    dest_index = possible_dest.index_in_parent() + 1
                dest_tag.insert(dest_index, r[0])
            else:
                possible_dest.replace_with(str(possible_dest) + str(r[0]))
                r[0].extract()
            changed = True
        if not r:
            if remove_if_empty:
                tag.extract()
            return changed

        # Leading whitespace prefix of the first string moves out.
        m = regex_search(r[0], RX_NBSPACE_AT_START)
        if m:
            dest_tag, possible_dest = self._hoist_dest_prev(tag)
            if not isinstance(possible_dest, Text):
                element = Text(m.group(1))
                dest_index = 0
                if possible_dest is not None:
                    dest_index = possible_dest.index_in_parent() + 1
                dest_tag.insert(dest_index, element)
            else:
                possible_dest.replace_with(str(possible_dest) + m.group(1))
            r[0].replace_with(str(r[0])[len(m.group(1)):])
            changed = True

        # Whole-whitespace trailing children move out.
        while r and regex_search(r[-1], RX_SPACEHTML_ONLY):
            dest_tag, possible_dest = self._hoist_dest_next(tag)
            if isinstance(r[-1], Tag) or not isinstance(possible_dest, Text):
                if possible_dest is not None:
                    dest_index = possible_dest.index_in_parent()
                else:
                    dest_index = len(dest_tag.contents)
                dest_tag.insert(dest_index, r[-1])
            else:
                possible_dest.replace_with(str(r[-1]) + str(possible_dest))
                r[-1].extract()
            changed = True
        if not r:
            if remove_if_empty:
                tag.extract()
            return changed

        # Trailing whitespace suffix of the last string moves out.
        m = regex_search(r[-1], RX_NBSPACE_AT_END)
        if m:
            dest_tag, possible_dest = self._hoist_dest_next(tag)
            if not isinstance(possible_dest, Text):
                element = Text(m.group(1))
                if possible_dest is not None:
                    dest_index = possible_dest.index_in_parent()
                else:
                    dest_index = len(dest_tag.contents)
                dest_tag.insert(dest_index, element)
            else:
                possible_dest.replace_with(m.group(1) + str(possible_dest))
            r[-1].replace_with(str(r[-1])[: -len(m.group(1))])
            changed = True
        return changed

    # ------------------------------------------------------------------
    # W2: rendered-line-start detection (soupcleanup.py:1004-1032)
    # ------------------------------------------------------------------

    def starts_rendered_line(self, element) -> bool:
        previous = element.previous_sibling
        at_line_start = True
        while previous is None:
            if get_tag_name(element.parent) not in self.inline_tag_names:
                at_line_start = True
                break
            element = element.parent
            previous = element.previous_sibling
        if previous is not None:
            n = get_tag_name(previous)
            at_line_start = not (n == "" or n in self.inline_tag_names)
        return at_line_start

    # ------------------------------------------------------------------
    # W1: whitespace dedupe (soupcleanup.py:1034-1090)
    # ------------------------------------------------------------------

    def dedupe_whitespace(self, navstr) -> bool:
        original = navstr.value
        result = original
        # Merge following adjacent strings first (soupcleanup.py:1044-1050).
        nexttag = navstr.next_sibling
        while isinstance(nexttag, Text):
            result += nexttag.value
            nexttag.extract()
            nexttag = navstr.next_sibling

        if _has_non_ascii(result):
            # Non-ASCII quirk: never dedupe (soupcleanup.py:172-190); keep
            # the merge (serialization-neutral).
            if result != original:
                navstr.replace_with(result)
                return True
            return False
        if _RX_DEDUPABLE.search(result) is None:
            # Every dedupe pattern below needs two whitespace characters in
            # a row or an &nbsp;: none can match.
            if result != original:
                navstr.replace_with(result)
                return True
            return False

        at_line_start = self.starts_rendered_line(navstr)
        # Dedupe at the start of the string.
        rx = RX_MULTISPACE_AT_START
        if self.dedupe_nbsp and not at_line_start:
            rx = RX_MULTINBSPACE_AT_START
        m = rx.search(result)
        if m:
            replacement = " "
            if at_line_start and m.group(1).find("\n") != -1:
                replacement = "\n"
            result = rx.sub(replacement, result)

        # Dedupe mid-string runs.
        if self.dedupe_nbsp and at_line_start:
            m = RX_MULTINBSPACE_NOT_AT_START.search(result)
            while m:
                result = RX_MULTINBSPACE_NOT_AT_START.sub(
                    m.group(1) + " ", result, 1
                )
                m = RX_MULTINBSPACE_NOT_AT_START.search(result)
        else:
            rx = RX_MULTINBSPACE if self.dedupe_nbsp else RX_MULTISPACE
            result = rx.sub(" ", result)

        if result != original:
            navstr.replace_with(result)
            return True
        return False

    # ------------------------------------------------------------------
    # W3: leading/trailing strip with tristate newline
    # (soupcleanup.py:1092-1220)
    # ------------------------------------------------------------------

    def strip_leading_whitespace(self, navstr, including_newline=None) -> None:
        force_strip_newline = including_newline is True
        readd_newline = including_newline is False
        match = regex_search(navstr, RX_SPACES_AT_START)
        while match:
            replacement = ""
            if not force_strip_newline and navstr.find("\n") != -1:
                replacement = "\n"
            force_strip_newline = False
            if match.group(1) == str(navstr):
                nxt = navstr.next_sibling
                navstr.extract()
                navstr = nxt
                if replacement:
                    readd_newline = True
                match = None
                if isinstance(navstr, Text):
                    match = regex_search(navstr, RX_SPACES_AT_START)
            elif replacement != match.group(1):
                if readd_newline:
                    replacement = "\n"
                if replacement:
                    readd_newline = False
                s = str(navstr)
                navstr.replace_with(replacement + s[len(match.group(1)):])
                match = None
            else:
                # navstr starts with exactly one '\n' followed by non-space.
                match = None
                readd_newline = False
        if readd_newline and including_newline is not True and navstr is not None:
            # (The reference would crash when navstr is None,
            # soupcleanup.py:1150-1152; we skip.)
            if isinstance(navstr, Tag):
                element = Text("\n")
                navstr.parent.insert(navstr.index_in_parent(), element)
            else:
                navstr.replace_with("\n" + str(navstr))

    def strip_trailing_whitespace(self, navstr, including_newline=None) -> None:
        force_strip_newline = including_newline is True
        readd_newline = including_newline is False
        match = regex_search(navstr, RX_NBSPACE_AT_END)
        while match:
            replacement = ""
            if not force_strip_newline and navstr.find("\n") != -1:
                replacement = "\n"
            force_strip_newline = False
            if match.group(1) == str(navstr):
                prev = navstr.previous_sibling
                navstr.extract()
                navstr = prev
                if replacement:
                    readd_newline = True
                match = None
                if isinstance(navstr, Text):
                    match = regex_search(navstr, RX_NBSPACE_AT_END)
            elif replacement != match.group(1):
                if readd_newline:
                    replacement = "\n"
                if replacement:
                    readd_newline = False
                s = str(navstr)
                navstr.replace_with(s[: -len(match.group(1))] + replacement)
                match = None
            else:
                match = None
                readd_newline = False
        if readd_newline and including_newline is not True and navstr is not None:
            if isinstance(navstr, Tag):
                elm = Text("\n")
                navstr.parent.insert(navstr.index_in_parent() + 1, elm)
            else:
                s = str(navstr)
                if s[-1] != "\n":
                    navstr.replace_with(s + "\n")

    # ------------------------------------------------------------------
    # W4: strip at non-inline tag boundaries (soupcleanup.py:1222-1274)
    # ------------------------------------------------------------------

    def strip_non_inline_whitespace(self, tag, including_newline=None) -> None:
        r = tag.contents
        if not r:
            return
        readd_newline = False
        if isinstance(r[-1], Tag) and r[-1].name == "br":
            # One trailing <br> renders as nothing: drop it.
            r[-1].extract()
        elif (
            regex_search(r[-1], RX_NBSPACE_ONLY)
            and len(r) > 1
            and isinstance(r[-2], Tag)
            and r[-2].name == "br"
        ):
            readd_newline = r[-1].find("\n") != -1
            r[-1].extract()
            r[-1].extract()
        if r:
            trailing_including_newline = including_newline
            if including_newline is None and readd_newline:
                trailing_including_newline = False
            self.strip_trailing_whitespace(r[-1], trailing_including_newline)
            if r:
                self.strip_leading_whitespace(r[0], including_newline)

    # ------------------------------------------------------------------
    # W6: optional <p> split on double <br> (soupcleanup.py:1276-1358)
    # ------------------------------------------------------------------

    def split_paragraphs_with_double_br(self, doc) -> int:
        n_split = 0
        for br in doc.find_all("br"):
            found = False
            lf = None
            next_element = None
            br2 = None
            parent_tag = None
            e = br.previous_sibling
            if isinstance(e, Text) and str(e) == "\n":
                e = e.previous_sibling
            if isinstance(e, Tag) and get_tag_name(e) != "br":
                br2 = br.next_sibling
                if isinstance(br2, Text) and str(br2) == "\n":
                    lf = br2
                    br2 = br2.next_sibling
                if isinstance(br2, Tag) and get_tag_name(br2) == "br":
                    next_element = br2.next_sibling
                    if isinstance(next_element, Text) and str(next_element) == "\n":
                        next_element = next_element.next_sibling
                    if isinstance(next_element, Tag) and get_tag_name(e) != "br":
                        parent_tag = br.parent
                        if get_tag_name(parent_tag) == "p":
                            found = True
            if found:
                n_split += 1
                if next_element is None:
                    gp = parent_tag.parent
                    gp.insert(parent_tag.index_in_parent() + 1, br2)
                    if lf is not None:
                        gp.insert(parent_tag.index_in_parent() + 1, lf)
                    gp.insert(parent_tag.index_in_parent() + 1, br)
                else:
                    i = parent_tag.index_in_parent() + 1
                    p2 = Tag("p")
                    parent_tag.parent.insert(i, p2)
                    e = Text("\n")
                    parent_tag.parent.insert(i, e)
                    if isinstance(next_element, Text) and str(next_element) == "\n":
                        next_element.extract()
                    self.move_contents_inside(
                        parent_tag, p2, 0, br2.index_in_parent() + 1
                    )
                    br2.extract()
                    br.extract()
                    if lf is not None:
                        lf.extract()
        return n_split

    # ------------------------------------------------------------------
    # S1: single-cell table -> div (soupcleanup.py:1360-1390)
    # ------------------------------------------------------------------

    def remove_single_cell_table(self, table) -> bool:
        r1 = self.get_contents(table, "nonwhitespace_string")
        r2 = self.get_contents(table, "tags")
        if len(r1) + len(r2) == 0:
            table.extract()
            return True
        r_tr = table.find_all("tr", recursive=False)
        if len(r_tr) != 1:
            return False
        r1 = self.get_contents(r_tr[0], "nonwhitespace_string")
        r2 = self.get_contents(r_tr[0], "tags")
        if len(r1) + len(r2) == 0:
            table.extract()
            return True
        r_td = r_tr[0].find_all("td", recursive=False)
        if not r_td:
            table.extract()
            return True
        if len(r_td) == 1:
            # td content is left-aligned by default; check_alignment may
            # delete the style again later (soupcleanup.py:1383-1390).
            e = Tag("div")
            e["style"] = "text-align: left"
            table.parent.insert(table.index_in_parent(), e)
            self.move_contents_inside(r_td[0], e)
            table.extract()
            return True
        return False

    # ------------------------------------------------------------------
    # S2: bullet-image table -> ul/li (soupcleanup.py:1392-1460)
    # ------------------------------------------------------------------

    def check_convert_table_to_list(self, table, li_img_re) -> bool:
        r1 = self.get_contents(table, "nonwhitespace_string")
        r2 = self.get_contents(table, "tags")
        r_tr = table.find_all("tr", recursive=False)
        if len(r1) + len(r2) != len(r_tr):
            raise CascadeError(
                "table contains other direct tags than tr"
            )
        all_bullets = True
        for tr in r_tr:
            if all_bullets:
                all_bullets = False
                r1 = self.get_contents(tr, "nonwhitespace_string")
                r2 = self.get_contents(tr, "tags")
                r_td = tr.find_all("td", recursive=False)
                if len(r1) + len(r2) != len(r_td):
                    raise CascadeError(
                        "tr contains other direct tags than td"
                    )
                if len(r_td) == 2:
                    r1 = self.get_contents(r_td[0], "nonwhitespace_string")
                    r2 = self.get_contents(r_td[0], "tags")
                    if (
                        not r1
                        and len(r2) == 1
                        and get_tag_name(r2[0]) == "img"
                        and li_img_re.search(r2[0]["src"])
                    ):
                        all_bullets = True
        if not all_bullets:
            return False
        ul = Tag("ul")
        ul["style"] = "text-align: left"
        table.parent.insert(table.index_in_parent(), ul)
        ul.insert(0, Text("\n"))
        i = 1
        for tr in r_tr:
            e = Tag("li")
            ul.insert(i, e)
            r_td = tr.find_all("td", recursive=False)
            self.move_contents_inside(r_td[1], e)
            ul.insert(i + 1, Text("\n"))
            i += 2
        table.extract()
        return True

    # ------------------------------------------------------------------
    # The driver-ordered cascade (cleanup_msfp.py:97-298)
    # ------------------------------------------------------------------

    def run(self, doc: Document) -> Document:
        """Apply the full DOM cascade in the reference driver's order.

        The reference re-walks the whole tree for every pass (one findAll
        per pass and tag name).  Here two walks collect the snapshots for
        all passes, plus the S3 descent from <body>:

        - walk 1, before D1: <script>, comments, <b>, <i>, <table>;
        - walk 2, after S3: every tag name that I1-I4, W1, W4, W5 and S4
          visit.

        A later pass reuses a snapshot only while the passes in between
        keep it exact: no tag of that name created, every removed tag
        either filtered out or known to be detached on its own (parent
        None, not inside a removed subtree), and document order kept.  Each
        pass states the invariant it relies on; where it does not hold, the
        pass takes a fresh walk.
        """
        # Walk 1.  D1 removes <script>s, which hold raw text only; D2
        # removes comments, which hold nothing; D3 moves each b/i's
        # children into a new strong/em at the same position.  None of
        # them adds, removes or reorders the other names, so each bucket
        # equals the findAll its pass would run.
        comments = []
        w = doc.find_all_multi(("script", "b", "i", "table"), comments)

        # D1: delete <script> subtrees (cleanup_msfp.py:100-101).
        for tag in w["script"]:
            tag.extract()
            self._bump("d1_script")

        # D2: delete comments (cleanup_msfp.py:104-105).
        for element in comments:
            element.extract()
            self._bump("d2_comment")

        # D3: b->strong, i->em; attributes intentionally dropped
        # (cleanup_msfp.py:109-118).  Renaming b's neither creates nor
        # removes i's (and vice versa).
        for old_name, new_name in (("b", "strong"), ("i", "em")):
            for tag in w[old_name]:
                e = Tag(new_name)
                tag.parent.insert(tag.index_in_parent(), e)
                self.move_contents_inside(tag, e)
                tag.extract()
                self._bump("d3_rename")

        # S1: single-cell tables (cleanup_msfp.py:126-127).
        for table in w["table"]:
            if self.remove_single_cell_table(table):
                self._bump("s1_single_cell_table")

        # S2: bullet tables (cleanup_msfp.py:133-135).  S1 creates no
        # table and keeps the order of the ones it leaves; it can remove a
        # table together with tables nested in it, hence the filter.
        for table in still_attached(w["table"], doc):
            if self.check_convert_table_to_list(table, self._img_bullet_rx):
                self._bump("s2_bullet_table")

        # S3: alignment minimization from <body> down (cleanup_msfp.py:138).
        body = doc.body
        if body is None:
            raise CascadeError("document has no <body>")
        self.check_alignment(body, "left")

        # Walk 2.  From here to S4 no pass removes a tag that still has
        # tag children: I1 and I3 move a tag's children out before they
        # extract it, I2 extracts only empty tags, W4 only <br>s, S4 only
        # empty <p>s.  So "parent is not None" means "still in the
        # document".  Every move keeps the document order of each name:
        # unwrapping puts the children where the tag was, and I2 hoists a
        # whitespace child just past the inline tags it was first or last
        # in.  Only I1 (new <strong>) and the <font> pass of I3 (new
        # <span>) create tags of these names; they re-walk when they do.
        inline = self.inline_tag_names
        block = ("p", "h2", "h3", "h4", "li", "blockquote")
        w = doc.find_all_multi(
            inline + block + ("font", "div", "span", "a", "br", "table", "ul"))

        def live(name):
            return [t for t in w[name] if t.parent is not None]

        # I1: normalize <a><strong> nesting to <strong><a>
        # (cleanup_msfp.py:147-162).
        i1_fired = False
        for tag in w["a"]:
            r1 = tag.find_all("strong", recursive=False)
            if r1:
                r2 = self._child_tags_capped(tag, len(r1) + 1)
                if len(r1) == len(r2) and not self._has_nonws_string(tag):
                    for element in r1:
                        self.move_contents_before(element, element)
                        element.extract()
                    element = Tag("strong")
                    tag.parent.insert(tag.index_in_parent(), element)
                    element.insert(0, tag)
                    self._bump("i1_a_strong")
                    i1_fired = True
        if i1_fired:
            w["strong"] = doc.find_all("strong")

        # I2: hoist whitespace out of inline tags; remove empty ones
        # except <a> (cleanup_msfp.py:193-195).  Hoisting never creates
        # nor extracts tags of the *other* inline names (only whole-<br>
        # moves and the processed tag's own removal), so each name's
        # snapshot equals a fresh findAll.
        for tag_name in inline:
            for tag in w[tag_name]:
                if self.move_whitespace_to_parent(tag, tag_name != "a"):
                    self._bump("i2_ws_hoist")

        # I3: wrapper elimination, font first, p last (cleanup_msfp.py:212-214).
        # Mangling a <font> can CREATE a <span> (soupcleanup.py:638-648)
        # that the span pass must then see: re-walk for spans if it did.
        # div/span/a/p never create tags of each other's names.
        spans_before = self.spans_created
        for tag in live("font"):
            if self.mangle_tag(tag):
                self._bump("i3_mangle_tag")
        if self.spans_created != spans_before:
            w["span"] = doc.find_all("span")
        for tag_name in ("div", "span", "a", "p"):
            for tag in w[tag_name]:
                if tag.parent is None:
                    continue  # extracted by an earlier unwrap in this group
                if self.mangle_tag(tag):
                    self._bump("i3_mangle_tag")

        # I4: attribute normalization (cleanup_msfp.py:219-221).
        for tag_name in ("p", "h2", "h3", "h4"):
            for t in live(tag_name):
                if self.mangle_attributes(t):
                    self._bump("i4_mangle_attrs")

        # W1: dedupe whitespace in direct string children
        # (cleanup_msfp.py:235-245).  Dedupe only rewrites/merges strings.
        for tag_name in inline + block:
            for tag in live(tag_name):
                r = tag.contents
                i = 0
                while i < len(r):
                    if r[i].__class__ is Text:
                        if self.dedupe_whitespace(r[i]):
                            self._bump("w1_dedupe")
                    i += 1

        # W4: strip whitespace at non-inline boundaries
        # (cleanup_msfp.py:252-256); <li> strips newlines entirely.
        # Strips only remove strings/brs.
        for tag_name in block + ("div",):
            for tag in live(tag_name):
                self.strip_non_inline_whitespace(
                    tag, True if tag_name == "li" else None
                )
                self._bump("w4_strip_non_inline")
        self.strip_non_inline_whitespace(body)

        # W5: strip whitespace around every <br> (cleanup_msfp.py:263-269).
        for tag in live("br"):
            element = tag.previous_sibling
            if element.__class__ is Text:
                self.strip_trailing_whitespace(element)
                self._bump("w5_strip_br")
            element = tag.next_sibling
            if element.__class__ is Text:
                self.strip_leading_whitespace(element)
                self._bump("w5_strip_br")

        # S4: one empty <p> after block elements (cleanup_msfp.py:274-281).
        if self.rules.remove_empty_paragraphs_under_blocks:
            for tag_name in ("table", "ul"):
                for tag in live(tag_name):
                    element = tag.next_sibling
                    while regex_search(element, RX_NBSPACE_ONLY):
                        element = element.next_sibling
                    if get_tag_name(element) == "p" and not element.contents:
                        element.extract()
                        self._bump("s4_empty_p_after_block")

        # S5: trailing empty <p>s at document end (cleanup_msfp.py:288-298).
        if body.contents:
            last_tag = body.contents[-1]
            if isinstance(last_tag, Text) and str(last_tag) == "\n":
                last_tag = last_tag.previous_sibling
            while get_tag_name(last_tag) == "div" and last_tag.contents:
                last_tag = last_tag.contents[-1]
                if isinstance(last_tag, Text) and str(last_tag) == "\n":
                    last_tag = last_tag.previous_sibling
            while get_tag_name(last_tag) == "p" and not last_tag.contents:
                tag = last_tag.previous_sibling
                last_tag.extract()
                last_tag = tag
                self._bump("s5_trailing_empty_p")

        # W6: optional, default off — the reference defines but never calls
        # it (soupcleanup.py:1276-1358).
        if self.rules.split_double_br:
            self._bump("w6_split_double_br",
                       self.split_paragraphs_with_double_br(doc))

        return doc
