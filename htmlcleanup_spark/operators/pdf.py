"""PDF text/layout extraction: the north rule's "PDF/layout parse" leg.

A pure-stdlib PDF content-stream text extractor (zlib handles FlateDecode)
run over ``binary`` payload columns as a per-document map — the
same decode-free philosophy as :mod:`.multimodal`: everything a byte-level
parser can recover (object graph, page tree order, content-stream text
operators, Flate streams) is REAL; nothing needs poppler/pdfminer.

Scale shape: a stateless per-document map, zero shuffles — identical to the
HTML cascade's placement in the plan (reference analogue: the single-doc
map in cleanup_msfp.py:279-302; PDF is the sibling input format the
reference never handled but the north rule names explicitly).

Parser scope (documented, total): linearly scans ``N G obj``..``endobj``
objects (no xref needed), honours the page tree's ``/Kids`` order rather
than file order, slices streams by direct ``/Length``, inflates
``/FlateDecode``, and interprets the text-showing subset of the content
stream grammar — ``Tj``, ``'``, ``\"``, ``TJ`` (kerning numbers ignored),
literal strings with nesting + ``\\``-escapes (including octal), hex
strings, and the line operators ``Td TD T*`` between shows.  Anything
malformed becomes an ``error`` value, never an exception — one bad
document cannot kill an executor.
"""

from __future__ import annotations

import re
import zlib
from typing import Optional, Tuple

from pyspark.sql import DataFrame

from ..functions.udf import doc_map


# ---------------------------------------------------------------------------
# deterministic synthetic corpus (arithmetic twin lives in the SQL oracle)
# ---------------------------------------------------------------------------

def expected_pdf_lines(doc_id: int):
    """Per-page line lists for ``doc_id`` — the arithmetic ground truth.

    Kept trivially re-derivable in ANSI SQL (see the ``pdf_text`` oracle):
    n_pages = 1 + doc_id % 3; three fixed-shape lines per page, one branch
    exercising parens + backslash so string-escape handling is on the
    oracle path.
    """
    pages = []
    for p in range(1 + doc_id % 3):
        if doc_id % 5 == 0:
            third = "esc (a\\b) %d" % p
        else:
            third = "plain %d" % ((doc_id + p) % 7)
        pages.append([
            "Doc %d page %d" % (doc_id, p),
            "value %d" % (doc_id * 31 + 7 * p),
            third,
        ])
    return pages


def expected_pdf_text(doc_id: int) -> str:
    return "\n\n".join("\n".join(ls) for ls in expected_pdf_lines(doc_id))


def _escape_literal(s: str) -> bytes:
    out = []
    for ch in s:
        if ch in "\\()":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out).encode("latin-1")


def _content_stream(doc_id: int, lines) -> bytes:
    """Encode ``lines`` as a page content stream, varying the string
    encoding by doc so every parser path is exercised: 0 → literal ``Tj``,
    1 → split ``TJ`` arrays with kerning numbers, 2 → hex strings,
    3 → literal ``Tj`` wrapped in FlateDecode (applied by the caller)."""
    style = doc_id % 4
    ops = [b"BT", b"/F1 12 Tf", b"14 TL", b"72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"T*")
        if style == 1:
            cut = max(1, len(line) // 2)
            ops.append(
                b"[(" + _escape_literal(line[:cut]) + b") -20 ("
                + _escape_literal(line[cut:]) + b")] TJ"
            )
        elif style == 2:
            ops.append(b"<" + line.encode("latin-1").hex().encode() + b"> Tj")
        else:
            ops.append(b"(" + _escape_literal(line) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def synth_pdf_bytes(doc_id: int) -> bytes:
    """A real, well-formed single-file PDF for ``doc_id``: catalog, page
    tree, per-page FlateDecode-or-plain content streams, valid xref.

    For odd docs the content-stream objects are laid out in REVERSE file
    order while ``/Kids`` stays ascending — proving the parser follows the
    page tree, not byte order.
    """
    n_pages = 1 + doc_id % 3
    page_lines = expected_pdf_lines(doc_id)
    flate = doc_id % 4 == 3

    # object numbering: 1 catalog, 2 pages, 3..2+n pages, 3+n..2+2n streams
    page_nums = [3 + p for p in range(n_pages)]
    stream_nums = [3 + n_pages + p for p in range(n_pages)]

    objs = {}
    kids = " ".join("%d 0 R" % n for n in page_nums)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        "<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)
    ).encode()
    for p in range(n_pages):
        objs[page_nums[p]] = (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Contents %d 0 R >>" % stream_nums[p]
        ).encode()
    for p in range(n_pages):
        raw = _content_stream(doc_id, page_lines[p])
        if flate:
            data = zlib.compress(raw)
            d = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            data = raw
            d = b"<< /Length %d >>" % len(data)
        objs[stream_nums[p]] = d + b"\nstream\n" + data + b"\nendstream"

    order = sorted(objs)
    if doc_id % 2 == 1:  # shuffle file layout: streams first, reversed
        order = stream_nums[::-1] + [1, 2] + page_nums

    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in order:
        offsets[n] = len(buf)
        buf += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref_at = len(buf)
    count = len(objs) + 1
    buf += b"xref\n0 %d\n" % count
    buf += b"0000000000 65535 f \n"
    for n in sorted(objs):
        buf += b"%010d 00000 n \n" % offsets[n]
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (count, xref_at)
    )
    return bytes(buf)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n")
_LEN_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")


def _parse_objects(data: bytes):
    """{obj_num: (dict_src, stream_bytes|None)} by linear scan — no xref
    required, which also survives the truncated/append-damaged files a
    crawl actually contains."""
    objs = {}
    for m in _OBJ_RE.finditer(data):
        num, body = int(m.group(1)), m.group(2)
        sm = _STREAM_RE.search(body)
        if not sm:
            objs[num] = (body, None)
            continue
        head = body[: sm.start()]
        rest = body[sm.end():]
        lm = _LEN_RE.search(head)
        if lm:
            n = int(lm.group(1))
            stream = rest[:n] if n <= len(rest) else None
        else:
            stream = None
        if stream is None:
            end = rest.rfind(b"endstream")
            stream = rest[:end].rstrip(b"\r\n") if end >= 0 else rest
        objs[num] = (head, stream)
    return objs


def _unescape(tok: bytes) -> str:
    out = bytearray()
    i, n = 0, len(tok)
    while i < n:
        c = tok[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = tok[i]
        mapped = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(c)
        if mapped is not None:
            out.append(mapped)
            i += 1
        elif 0x30 <= c <= 0x37:  # octal, up to 3 digits
            j = i
            while j < n and j - i < 3 and 0x30 <= tok[j] <= 0x37:
                j += 1
            out.append(int(tok[i:j], 8) & 0xFF)
            i = j
        elif c in (0x0A, 0x0D):  # line continuation
            i += 1
            if c == 0x0D and i < n and tok[i] == 0x0A:
                i += 1
        else:  # \( \) \\ and unknown escapes: literal char
            out.append(c)
            i += 1
    return out.decode("latin-1")


def _read_literal(s: bytes, i: int):
    """s[i] == '(' → (raw-inner-bytes, index-after-')')."""
    depth, j, n = 0, i, len(s)
    while j < n:
        c = s[j]
        if c == 0x5C:
            j += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return s[i + 1: j], j + 1
        j += 1
    return s[i + 1:], n


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _stream_text(s: bytes) -> str:
    """Interpret the text-showing operators of one content stream."""
    lines = []
    cur = []          # shown chunks on the current rendered line
    shown = False     # anything shown since the last line break
    i, n = 0, len(s)

    def breakline():
        nonlocal shown
        if shown:
            lines.append("".join(cur))
            cur.clear()
            shown = False

    pending = []  # string operands awaiting their operator
    while i < n:
        c = s[i]
        if c == 0x28:  # ( literal string
            raw, i = _read_literal(s, i)
            pending.append(_unescape(raw))
            continue
        if c == 0x3C:  # < hex string or << dict
            if i + 1 < n and s[i + 1] == 0x3C:
                i += 2
                continue
            j = s.find(b">", i + 1)
            j = n if j < 0 else j
            hx = bytes(ch for ch in s[i + 1: j] if ch not in _WS)
            if len(hx) % 2:
                hx += b"0"
            try:
                pending.append(bytes.fromhex(hx.decode("ascii"))
                               .decode("latin-1"))
            except ValueError:
                pass
            i = j + 1
            continue
        if c == 0x25:  # % comment to EOL
            j = s.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        if c in _WS or c in b"[]{}>/":
            if c == 0x2F:  # /Name: skip the name token
                i += 1
                while i < n and s[i] not in _WS and s[i] not in _DELIM:
                    i += 1
                continue
            i += 1
            continue
        # regular token (operator or number)
        j = i
        while j < n and s[j] not in _WS and s[j] not in _DELIM:
            j += 1
        tok = s[i:j]
        i = j
        if tok in (b"Tj", b"TJ"):
            if pending:
                cur.extend(pending)
                shown = True
        elif tok in (b"'", b'"'):
            breakline()
            if pending:
                cur.append(pending[-1])
                shown = True
        elif tok in (b"Td", b"TD", b"T*"):
            breakline()
        elif tok == b"ET":
            breakline()
        # any non-numeric token is an operator: its operands are consumed
        if tok and tok[0:1] not in b"+-.0123456789":
            pending = []
    breakline()
    return "\n".join(lines)


def pdf_text_bytes(data: bytes) -> Tuple[Optional[str], Optional[int],
                                         Optional[str]]:
    """(text, n_pages, error) — total on arbitrary bytes."""
    try:
        if not isinstance(data, (bytes, bytearray)) or not data:
            return None, None, "empty payload"
        data = bytes(data)
        if not data.startswith(b"%PDF-"):
            return None, None, "not a PDF (missing %PDF- header)"
        objs = _parse_objects(data)
        if not objs:
            return None, None, "no objects"
        page_nums = [num for num, (d, _s) in sorted(objs.items())
                     if _PAGE_RE.search(d)]
        # page-tree order beats file order when /Kids is present
        for _num, (d, _s) in objs.items():
            km = _KIDS_RE.search(d)
            if km:
                kids = [int(r) for r in _REF_RE.findall(km.group(1))]
                ordered = [k for k in kids if k in objs]
                if ordered:
                    page_nums = ordered
                break
        texts = []
        for pn in page_nums:
            d, _s = objs[pn]
            cm = _CONTENTS_RE.search(d)
            if not cm:
                continue
            ref = int(cm.group(1))
            if ref not in objs:
                continue
            sd, stream = objs[ref]
            if stream is None:
                continue
            if b"/FlateDecode" in sd:
                try:
                    stream = zlib.decompress(stream)
                except zlib.error:
                    return None, None, "bad FlateDecode stream in obj %d" % ref
            texts.append(_stream_text(stream))
        if not page_nums:
            return None, None, "no /Type /Page objects"
        return "\n\n".join(texts), len(page_nums), None
    except Exception as exc:  # total safety: failures are values
        return None, None, "%s: %s" % (type(exc).__name__, exc)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def pdf_text(df: DataFrame, payload_col: str = "payload",
             id_col: str = "doc_id") -> DataFrame:
    """binary PDF payloads → (id, text, n_pages, error) as a stateless
    per-document map (functions/udf.doc_map), no shuffle — the plan slot
    is the HTML cascade's, so skewed payload sizes are spread the same way
    upstream (``plans.extract.partition_for_cascade``)."""
    return doc_map(df, lambda p: pdf_text_bytes(p or b""), [payload_col],
                   "text string, n_pages int, error string",
                   carry=[id_col])
