"""Spark wiring for charset sniffing + transcoding (pure core:
:mod:`htmlcleanup_spark.engine.charset`).

``decode_pages`` is the bytes→str head of the extraction pipeline — a
stateless Arrow-batched map with zero shuffles, pipelined by Spark into
the same task as an adjacent cascade stage.  ``engine.clean.clean_html``
also sniffs binary inputs through the same core, so WARC payloads flow
WARC → decode → cascade without a bare-utf-8 guess anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# re-exported pure core (kept importable from either layer)
from ..engine.charset import (  # noqa: F401
    decode_html,
    detect_charset,
    expected_charset,
    expected_decoded_text,
    synth_encoded_page,
)
from .udf import doc_map


def decode_pages(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "doc_id") -> DataFrame:
    """binary pages → (id, text, charset, error)."""
    return doc_map(df, decode_html, [payload_col],
                   "text string, charset string, error string",
                   carry=[id_col])


# the 27 characters Windows-1252 remaps out of the 0x80-0x9F band,
# paired with the bytes they came from (public cp1252 table) — mojibake
# produced by a cp1252 decode shows these instead of C1 controls
_CP1252_CHARS = (
    "€‚ƒ„…†‡ˆ‰Š"
    "‹ŒŽ‘’“”•–—"
    "˜™š›œžŸ"
)
_CP1252_BYTES = (
    "\x80\x82\x83\x84\x85\x86\x87\x88\x89\x8a"
    "\x8b\x8c\x8e\x91\x92\x93\x94\x95\x96\x97"
    "\x98\x99\x9a\x9b\x9c\x9e\x9f"
)


def fix_mojibake(text_col: str = "text"):
    """Repair UTF-8-read-as-cp1252/Latin-1 mojibake ('cafÃ©' -> 'café',
    'â€”' -> '—') with pure JVM column expressions — the generic byte
    round-trip, not a lookup table of broken digraphs: translate the 27
    cp1252-remapped characters back to their byte positions (Spark's
    encode only speaks ISO-8859-1), re-encode as Latin-1, re-decode the
    bytes as UTF-8.

    Three guards make it safe to run over a whole corpus:
    - only candidate texts are touched (they contain one of the telltale
      lead chars Ã/Â/â — the Latin-1 renderings of UTF-8 lead bytes
      0xC3/0xC2/0xE2);
    - only texts whose every char (after the cp1252 back-translate) is
      <= U+00FF, so the Latin-1 encode is a lossless byte bijection —
      anything else would be destroyed by the encoder's substitution;
    - the repair applies only when the reconstructed byte stream is
      valid UTF-8 (is_valid_utf8 — Spark 4's decode throws on malformed
      input rather than substituting, so the check must gate, not
      post-filter).
    Non-candidates pass through untouched, so the op is idempotent
    (repaired text no longer matches the telltale+byte-range guards),
    and real Latin-script text containing â/Ã (château) survives: its
    reconstructed bytes are not valid UTF-8.
    """
    from pyspark.sql import functions as F

    c = F.col(text_col)
    pre = F.translate(c, _CP1252_CHARS, _CP1252_BYTES)
    enc = F.encode(pre, "ISO-8859-1")
    candidate = (
        c.rlike("[ÃÂâ]")
        & ~pre.rlike("[^\\x00-\\xff]")
        & F.is_valid_utf8(enc)
    )
    return F.when(candidate, F.decode(enc, "UTF-8")).otherwise(c)


def nfc_normalize_text(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC normalization (é as one codepoint, not e + combining
    acute) — the canonical form dedup digests and tokenizers assume.
    A per-document map (unicodedata is C-backed; no JVM NFC builtin
    exists), zero shuffles, pipelined into adjacent stages.  Returns
    (id, text).  The DuckDB oracle twin is ``nfc_normalize`` (utf8proc) —
    both implement the same Unicode canonical composition."""
    import unicodedata

    return doc_map(
        df, lambda t: None if t is None else unicodedata.normalize("NFC", t),
        [text_col], "`%s` string" % text_col, carry=[id_col],
    )


def strip_control_chars(text_col: str = "text"):
    """Drop C0 controls and DEL except tab/newline/carriage-return —
    the cleanup every tokenizer-facing corpus pass runs.  Pure
    regexp_replace; the same character class is valid in DuckDB's RE2."""
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.col(text_col),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
    )
