"""Text-analysis column functions (training-data pipeline layer).

Nearly everything here is built-in column expressions — JVM-side,
codegen-friendly — and chosen so a DuckDB oracle can reproduce the values
exactly (simple splits and arithmetic, no engine-specific regex dialects).
The Gopher signal families (:func:`quality_signals`,
:func:`repetition_signals`) are per-document Python maps on
:func:`~htmlcleanup_spark.functions.udf.doc_map`.
"""

from __future__ import annotations

from collections import Counter
from math import floor

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .udf import doc_map

# Per-language stopword marker sets (top public stopwords) for the
# stopword-count language heuristic.  Order within a set is irrelevant;
# overlaps across languages (e.g. en/nl "in") are fine — scores count hits
# and the tie-break is deterministic.  The DuckDB oracle is GENERATED from
# this dict (__spark_entry__._lang_id_oracle) so the two can never drift.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "was",
           "for", "on", "are", "with", "as", "be", "at", "this", "have",
           "not"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "eine",
           "den", "von", "zu", "dem", "sich", "auf", "für", "auch", "als",
           "wird", "bei"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "dans", "est",
           "pour", "que", "qui", "sur", "avec", "pas", "plus", "par",
           "mais", "nous", "vous"),
    "nl": ("de", "het", "een", "en", "van", "dat", "te", "niet", "met",
           "op", "voor", "zijn", "aan", "maar", "dan", "ook", "bij",
           "naar", "uit", "ze"),
}

_LANG_ORDER = ("en", "de", "fr", "nl")


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


# GPT-2-style pre-tokenizer shape, restricted to the dialect both Spark
# (Java regex) and DuckDB (RE2) evaluate identically on the ASCII corpus:
# a token is an optionally space-prefixed letter run, digit run, or
# punctuation run.  This tracks BPE token counts (the unit training
# budgets are written in) far better than whitespace words, which glue
# punctuation onto words.
_BPE_ISH = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(text_col: str = "text") -> Column:
    """Training-token estimate via the BPE-ish pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_ISH), 0))


def stopword_hits(text_col: str, words) -> Column:
    """Number of tokens that are one of ``words``."""
    return F.size(
        F.filter(tokens(text_col), lambda w: w.isin(*list(words)))
    )


def _lang_best(text_col: str):
    """(best_lang, best_score) column pair for the stopword heuristic.

    Deterministic tie-break: language order en, de, fr, nl (strictly
    greater wins); 'und'/0 when nothing matches.
    """
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in _LANG_ORDER:
        score = stopword_hits(text_col, LANG_MARKERS[lang])
        best_lang = F.when(score > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(score > best_score, score).otherwise(best_score)
    return best_lang, best_score


def lang_id(text_col: str = "text") -> Column:
    """Stopword-count heuristic language ID; 'und' when nothing matches."""
    return _lang_best(text_col)[0]


def lang_confidence(text_col: str = "text") -> Column:
    """Confidence of :func:`lang_id`: winning-marker hits / tokens, in
    [0, 1] (0.0 for 'und').  IEEE double division of two small ints is
    exactly specified, so the value is bit-identical across engines —
    no rounding needed for the SQL oracle."""
    _, best_score = _lang_best(text_col)
    return best_score.cast("double") / F.greatest(
        token_count(text_col).cast("double"), F.lit(1.0)
    )


def quality_score(text_col: str = "text") -> Column:
    """Cheap quality heuristic, scaled to an integer in [0, 1e6]:

    1e6 * (0.5 * clamp(tokens/100) + 0.3 * alpha_ratio + 0.2 *
    mean-token-length factor).  floor-quantized to a BIGINT because decimal
    round() at exact half-boundaries differs between engines (Spark rounds
    the shortest decimal repr HALF_UP, DuckDB multiplies and rints) while
    floor on bit-identical IEEE doubles is portable.
    """
    n_tok = token_count(text_col).cast("double")
    n_chars = F.length(text_col).cast("double")
    alpha_chars = F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z ]", "")
    ).cast("double")
    mean_tok_len = n_chars / F.greatest(n_tok, F.lit(1.0))
    q = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.5
        + (alpha_chars / F.greatest(n_chars, F.lit(1.0))) * 0.3
        + F.least(mean_tok_len / 8.0, F.lit(1.0)) * 0.2
    )
    return F.floor(q * 1000000.0).cast("long")


# PII patterns, restricted to the dialect Java regex and RE2 evaluate
# identically (no lookarounds; \b word boundaries are in both).  Order of
# application matters and is fixed: emails, then IPv4, then phone-ish runs
# (each earlier redaction removes digits the later patterns could misread).
PII_PATTERNS = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(text_col: str = "text") -> Column:
    """Redact emails, IPv4 addresses, and phone-number-shaped digit runs
    with typed placeholder tokens — the standard scrub pass before
    training-data release.  Chained built-in regexp_replace (JVM-side,
    replace-all); patterns live in PII_PATTERNS so the DuckDB oracle is
    generated from the same table (regexp_replace(..., 'g') there).
    Deliberately conservative: digit runs shorter than 8 and bare names
    are untouched — recall on exotic formats is a tuning knob, not a
    correctness property."""
    col = F.col(text_col)
    for pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def fingerprint(text_col: str = "text") -> Column:
    """Full-content fingerprint (md5 hex)."""
    return F.md5(F.col(text_col))


def rolling_fingerprints(words_col: Column | str = "_ws",
                         window: int = 5) -> Column:
    """Winnowing-style fingerprints: md5 of each ``window``-token span.

    Takes a *materialized* words-array column (``split(text, ' ')`` selected
    first) — referencing the split expression inside the transform lambda
    would re-split the whole text per element, O(len^2) per document,
    because higher-order-function lambdas are interpreted with no CSE.

    Returns array<string>; pair with posexplode + min-per-band for
    plagiarism / containment detection at corpus scale.
    """
    w = F.col(words_col) if isinstance(words_col, str) else words_col
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - window, F.lit(0))),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(w, i + 1, window))
        ),
    )


def chunk_spans(words_col: Column | str = "_ws", chunk_tokens: int = 128,
                stride: int = 96) -> Column:
    """Token-window chunking for context packing: array of struct(chunk_id,
    chunk) covering the materialized words array with windows of
    ``chunk_tokens`` tokens every ``stride`` tokens (overlap =
    chunk_tokens - stride; stride <= chunk_tokens covers every token).

    Pure column expressions — the chunk count is ceil((n - chunk_tokens) /
    stride) + 1 (min 1), so the LAST window may be shorter but no token is
    dropped and no empty trailing chunk is emitted.  Takes the
    materialized array column (same interpreted-lambda rule as
    rolling_fingerprints).  Pair with posexplode to get one row per chunk.
    """
    w = F.col(words_col) if isinstance(words_col, str) else words_col
    n = F.size(w)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)) + 1, F.lit(1)
    ).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(w, i * stride + 1, chunk_tokens)
            ).alias("chunk"),
        ),
    )


def quality_signals(df, text_col: str = "text",
                    min_words: int = 20, max_words: int = 100_000,
                    min_mean_word_len: float = 3.0,
                    max_mean_word_len: float = 10.0,
                    max_top_bigram_frac: float = 0.20,
                    min_unique_frac: float = 0.50):
    """Gopher-style per-document repetition/quality signals (Rae et al.
    2021 §A1.1, the standard web-corpus filter set), with a keep/drop
    verdict applying the thresholds.  Returns ``df``'s columns followed by
    the signals, so a gate is ``quality_signals(df).filter("keep")``.

    Columns (ratios floor-quantized to BIGINT at 1e6 — portable across
    engines, see quality_score):

    - ``n_words``: whitespace tokens.
    - ``mean_word_len_e6``: total word chars / words.  Texts are
      single-space separated (the corpus contract), so word chars =
      length - (n_words - 1).
    - ``uniq_word_frac_e6``: distinct words / words — low values mean
      word-level repetition.
    - ``top_bigram_frac_e6``: chars covered by the most frequent word
      2-gram / chars — THE Gopher repetition signal; boilerplate and
      keyword-stuffed pages score high.  Tie-break: the max of
      (count, bigram) == SQL ORDER BY cnt DESC, bigram DESC LIMIT 1,
      deterministic.
    - ``stopword_frac_e6``: English-marker hits / words (Gopher's
      "has stopwords" rule, as a ratio).
    - ``keep``: the verdict under the thresholds above.

    Plan: every signal depends only on the document's own words, so the
    whole computation is one per-document map (functions/udf.doc_map) —
    zero shuffles, no join back to the text.  All arithmetic replays the
    former relational expression tree's IEEE-double operation order
    exactly; Python tuple max == Spark struct max (long first, then UTF-8
    string order).  NULL text yields NULL signals, top_bigram 0 and NULL
    keep — the size(NULL)/left-join semantics of the relational form.

    Line-granularity Gopher rules (bullet/ellipsis line fractions) live
    with :func:`~htmlcleanup_spark.operators.dedup.line_dedup`, which owns
    the line model — the documents corpus is single-line by construction.
    """
    stops = frozenset(LANG_MARKERS["en"])
    t_mwl_lo = int(min_mean_word_len * 1e6)
    t_mwl_hi = int(max_mean_word_len * 1e6)
    t_top = int(max_top_bigram_frac * 1e6)
    t_uniq = int(min_unique_frac * 1e6)

    def signals(t):
        if t is None:
            return None, None, None, None, 0, None
        w = t.split(" ")
        nw = len(w)
        nwd = float(nw)
        nc = float(len(t))
        den = nwd if nwd > 1.0 else 1.0
        mwl = floor(((nc - (nwd - 1.0)) / den) * 1e6)
        uniq = floor((float(len(set(w))) / den) * 1e6)
        stop = floor((float(sum(x in stops for x in w)) / den) * 1e6)
        if nw < 2:
            top = 0
        else:
            cnt = Counter(" ".join(w[i:i + 2]) for i in range(nw - 1))
            bc, bg = max((c, g) for g, c in cnt.items())
            top = floor(((bc * float(len(bg))) / nc) * 1e6)
        keep = (min_words <= nw <= max_words
                and t_mwl_lo <= mwl <= t_mwl_hi
                and top <= t_top and uniq >= t_uniq)
        return nw, mwl, uniq, stop, top, keep

    return doc_map(
        df, signals, [text_col],
        "n_words int, mean_word_len_e6 long, uniq_word_frac_e6 long, "
        "stopword_frac_e6 long, top_bigram_frac_e6 long, keep boolean",
        carry=df.columns,
    )


def source_stats(df, text_col: str = "text", source_col: str = "source"):
    """Per-source corpus accounting — the rollup behind domain blocklists
    in a crawl pipeline: volume, exact-duplicate rate, token mass, and
    mean quality per source.  One hash-shuffle on the source key with
    map-side partial aggregation (countDistinct rewrites to a two-phase
    expand internally, still one logical pass); avg is floor-quantized
    because sum(bigint)/count is IEEE-exact in both engines but the
    textual rendering of the raw double is not hash-stable.
    """
    return df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.countDistinct(F.md5(F.col(text_col)))).alias(
            "n_exact_dups"
        ),
        F.sum(token_count(text_col)).alias("total_tokens"),
        F.floor(F.avg(quality_score(text_col)).cast("double"))
        .cast("long")
        .alias("mean_quality_e6"),
    )


def host_quality(df, host_col: str = "host", text_col: str = "text",
                 min_docs: int = 3, min_keep_frac: float = 0.5):
    """Per-HOST reputation rollup (the RefinedWeb/CCNet move: judge the
    site, not just the page — a host whose sampled pages mostly fail
    the Gopher quality gate gets dropped wholesale, which is both a
    quality and a cost win since its future crawl can be skipped).

    Aggregates :func:`quality_signals` verdicts per host:
    (host, n_docs, n_keep, keep_frac_e6, host_keep) with
    ``host_keep = n_docs >= min_docs AND keep_frac >= min_keep_frac``
    — hosts with too few sampled docs fail closed (no verdict from
    nothing).  ``keep_frac_e6`` is exact integer arithmetic
    (n_keep * 1e6 div n_docs), no float anywhere.

    Scale shape: the doc verdicts come from quality_signals' per-document
    map, which carries the host column, so there is no join back; the
    rollup is ONE host-keyed map-combined groupBy.  Mega-hosts are 1 row
    out, and the per-document map runs on the input's partitioning, so
    host skew never concentrates a partition."""
    sig = quality_signals(df.select(host_col, text_col), text_col=text_col)
    n_keep = F.sum(F.col("keep").cast("int")).alias("n_keep")
    return (
        sig.groupBy(host_col)
        .agg(
            F.count("*").alias("n_docs"),
            n_keep,
        )
        .select(
            host_col, "n_docs", "n_keep",
            F.expr("n_keep * 1000000 div n_docs").alias("keep_frac_e6"),
            (
                (F.col("n_docs") >= min_docs)
                & (F.expr("n_keep * 1000000 div n_docs")
                   >= int(min_keep_frac * 1e6))
            ).alias("host_keep"),
        )
    )


def corpus_stats(df, text_col: str = "text", group_col: str = "lang",
                 approx: bool = False):
    """Per-group corpus statistics (SURVEY §2.7 corpus stats).

    ``approx=True`` swaps the exact distinct count for
    approx_count_distinct (HyperLogLog++): ONE pass with a constant-size
    sketch per group instead of the exact count's distinct-shuffle — the
    right call at 10^12 docs where 2% relative error is irrelevant.  The
    exact variant stays the default so a SQL oracle can reproduce values
    bit-for-bit; the HLL variant is bounded against it in tests.
    """
    distinct = (
        F.approx_count_distinct(F.md5(F.col(text_col)))
        if approx
        else F.countDistinct(F.md5(F.col(text_col)))
    )
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        distinct.alias("n_distinct_texts"),
        F.sum(F.length(text_col)).alias("total_chars"),
        F.sum(token_count(text_col)).alias("total_tokens"),
    )


def repetition_signals(df, text_col: str = "text",
                       top_ns: tuple = (2, 3, 4),
                       dup_ns: tuple = (5, 10),
                       max_top_frac: dict | None = None,
                       max_dup_frac: dict | None = None):
    """The FULL Gopher repetition-filter family (Rae et al. 2021 §A1.1;
    also the FineWeb/Dolma filter set) — :func:`quality_signals` carries
    only the top-bigram member.  Returns ``df``'s columns followed by
    ``n_words``, the signals and ``keep``, so a gate is
    ``repetition_signals(df).filter("keep")``:

    - ``top{n}_frac_e6`` (n in ``top_ns``): chars attributable to the
      single most frequent word n-gram (count * gram chars / doc chars),
      tie-break max(struct(cnt, gram)) == ORDER BY cnt DESC, gram DESC.
    - ``dup{n}_frac_e6`` (n in ``dup_ns``): fraction of WORDS covered by
      any n-gram occurring >= 2 times in the document (union of
      overlapping occurrences — counted once, Gopher's semantics; we
      measure in words where the paper measures chars, the cheaper
      variant several open implementations use).
    - ``keep``: thresholds default to the paper's (top: 0.20/0.18/0.16
      for n=2/3/4; dup: 0.15 for n=5, 0.10 for n=10).

    Plan: every signal in the family depends only on the document's OWN
    words, so the whole computation is one per-document map
    (functions/udf.doc_map) — ZERO shuffle at any scale (the former
    relational construction exploded an (n, pos, gram) stream ~ sum(n)
    rows per word and paid a doc-keyed exchange + SortAggregate for the
    max-struct tie-break + two pivots).  Skew follows the biggest
    document, as before.

    Values are bit-identical to the relational construction: words =
    text.split(" ") (== split(text, ' ', -1) with empty tokens kept); top
    fraction = floor(((cnt * float(len(gram))) / float(n_chars)) * 1e6)
    with the max-(cnt, gram) tie-break (Python tuple order == Spark struct
    order: long first, then UTF8 string — UTF-8 byte order equals
    code-point order, so str comparison matches); dup fraction =
    floor((float(|covered positions|) / float(n_words)) * 1e6) over the
    union of occurrence ranges of grams appearing >= 2 times.  All
    arithmetic is the same IEEE-double operation sequence, so the e6
    integers are bit-identical.  NULL text yields (NULL n_words, all-zero
    fracs, keep=true), matching the size(NULL)=NULL + left-join +
    coalesce(0) path.
    """
    max_top_frac = max_top_frac or {2: 0.20, 3: 0.18, 4: 0.16}
    max_dup_frac = max_dup_frac or {5: 0.15, 10: 0.10}
    top_thr = {n: int(max_top_frac[n] * 1e6) for n in top_ns}
    dup_thr = {n: int(max_dup_frac[n] * 1e6) for n in dup_ns}
    top_ns, dup_ns = tuple(top_ns), tuple(dup_ns)

    def signals(t):
        if t is None:
            return (None,) + (0,) * (len(top_ns) + len(dup_ns)) + (True,)
        w = t.split(" ")
        nw = len(w)
        nc = float(len(t))
        out = [nw]
        keep = True
        for n in top_ns:
            if nw < n:
                v = 0
            else:
                cnt = Counter(" ".join(w[i:i + n])
                              for i in range(nw - n + 1))
                best_c, best_g = max((c, g) for g, c in cnt.items())
                v = floor(((best_c * float(len(best_g))) / nc) * 1e6)
            out.append(v)
            keep = keep and v <= top_thr[n]
        for n in dup_ns:
            if nw < n:
                v = 0
            else:
                grams = [" ".join(w[i:i + n]) for i in range(nw - n + 1)]
                cnt = Counter(grams)
                cov: set = set()
                for i, g in enumerate(grams):
                    if cnt[g] >= 2:
                        cov.update(range(i, i + n))
                v = floor((float(len(cov)) / float(nw)) * 1e6)
            out.append(v)
            keep = keep and v <= dup_thr[n]
        out.append(keep)
        return tuple(out)

    return doc_map(
        df, signals, [text_col],
        ", ".join(["n_words int"]
                  + ["top%d_frac_e6 long" % n for n in top_ns]
                  + ["dup%d_frac_e6 long" % n for n in dup_ns]
                  + ["keep boolean"]),
        carry=df.columns,
    )


def tfidf_top_terms(df, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 5):
    """Top-k keywords per document by smoothed TF-IDF:

        score = tf(term, doc) * ln((N + 1) / (df(term) + 1))

    quantized to e6 BIGINT *before* ranking, so the (score DESC, term
    ASC) tie-break is a deterministic total order per document and the
    SQL twin ranks identically.  Returns (id, term, rank, score_e6).

    Scale shape: the term-frequency agg keys on (doc, term) and the
    document-frequency agg on term — both map-side combined; the DF
    table is vocabulary-sized (broadcast); the corpus size is a 1-row
    cross-joined scalar; the final top-k is a window keyed by doc id —
    one doc-keyed shuffle, never a global sort.
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_w"),
    )
    # pin: tf feeds BOTH the document-frequency rollup and the scoring
    # join; and dfx derives FROM tf (tf has exactly one row per
    # (doc, term), so counting tf rows per term IS the document
    # frequency) — the former separate words.groupBy(term, id) pass
    # re-exploded and re-shuffled the whole token stream for a table tf
    # already determines.
    tf = words.groupBy(id_col, "_w").agg(
        F.count("*").alias("_tf")
    ).localCheckpoint(eager=False)
    dfx = tf.groupBy("_w").agg(F.count("*").alias("_df"))
    n_docs = df.agg(F.count("*").cast("double").alias("_nd"))
    scored = (
        tf.join(F.broadcast(dfx), "_w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            F.col("_w").alias("term"),
            F.floor(
                F.col("_tf").cast("double")
                * F.log((F.col("_nd") + 1.0)
                        / (F.col("_df").cast("double") + 1.0))
                * 1e6
            ).cast("long").alias("score_e6"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", "score_e6")
    )


def gopher_rules(df, text_col: str = "text", id_col: str = "doc_id",
                 max_symbol_ratio: float = 0.10,
                 max_bullet_frac: float = 0.90,
                 max_ellipsis_frac: float = 0.30,
                 min_alpha_frac: float = 0.80,
                 min_distinct_stopwords: int = 2):
    """The REMAINING Gopher document-level filters (Rae et al. 2021
    §A1.1) — :func:`quality_signals` carries word-count / word-length /
    repetition, :func:`repetition_signals` the n-gram family; together
    the three cover the paper's full rule table:

    - ``symbol_ratio_e6``: (# + ellipsis occurrences) / words <= 0.10
    - ``bullet_frac_e6``: fraction of LINES starting with a bullet
      (•, -, *) <= 0.90
    - ``ellipsis_frac_e6``: fraction of lines ending with … or ... <= 0.30
    - ``alpha_frac_e6``: fraction of words containing at least one
      alphabetic character >= 0.80
    - ``n_stopwords``: DISTINCT English stopwords present, >= 2 (the
      paper's "contains at least 2 of the, be, to, of, and, that, have,
      with" rule — generated from the same marker list lang_id uses)
    - ``keep``: the conjunction.

    Everything is a pure column expression over the split arrays — zero
    shuffles, whole-stage codegen, pipelined into the scan.
    """
    ws = F.split(F.col(text_col), " ")
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(ws).cast("double")
    n_lines = F.size(lines).cast("double")

    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ell = (
        F.size(F.split(F.col(text_col), "…", -1)) - 1
        + F.size(F.split(F.col(text_col), "\\.\\.\\.", -1)) - 1
    )
    symbol_ratio = (
        (n_hash + n_ell).cast("double") / F.greatest(n_words, F.lit(1.0))
    )
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike("^\\s*[•*-]")))
        .cast("double") / F.greatest(n_lines, F.lit(1.0))
    )
    ellipsis_frac = (
        F.size(F.filter(
            lines, lambda l: l.rlike("(…|\\.\\.\\.)\\s*$")
        )).cast("double") / F.greatest(n_lines, F.lit(1.0))
    )
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
        .cast("double") / F.greatest(n_words, F.lit(1.0))
    )
    stops = [w for w in LANG_MARKERS["en"]]
    n_stop = sum(
        (F.array_contains(ws, w).cast("int") for w in stops), F.lit(0)
    )

    e6 = lambda c: F.floor(c * 1e6).cast("long")  # noqa: E731
    out = df.select(
        F.col(id_col),
        e6(symbol_ratio).alias("symbol_ratio_e6"),
        e6(bullet_frac).alias("bullet_frac_e6"),
        e6(ellipsis_frac).alias("ellipsis_frac_e6"),
        e6(alpha_frac).alias("alpha_frac_e6"),
        n_stop.alias("n_stopwords"),
    )
    return out.withColumn(
        "keep",
        (F.col("symbol_ratio_e6") <= int(max_symbol_ratio * 1e6))
        & (F.col("bullet_frac_e6") <= int(max_bullet_frac * 1e6))
        & (F.col("ellipsis_frac_e6") <= int(max_ellipsis_frac * 1e6))
        & (F.col("alpha_frac_e6") >= int(min_alpha_frac * 1e6))
        & (F.col("n_stopwords") >= min_distinct_stopwords),
    )


def vocab_stats(df, text_col: str = "text"):
    """One-row corpus vocabulary summary: distinct terms, hapax
    legomena (terms occurring exactly once — the Zipf tail that
    dominates vocabulary growth), and total token count.  One explode
    into a map-side-combined term count (vocabulary-keyed shuffle),
    then a 1-row rollup."""
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
    )
    return counts.agg(
        F.count("*").alias("n_terms"),
        F.sum((F.col("_c") == 1).cast("long")).alias("n_hapax"),
        F.sum("_c").alias("total_tokens"),
    )


def length_percentiles(df, value_col: str = "n_chars",
                       group_col: str = "lang",
                       pcts: tuple = (50, 90, 99)):
    """Exact nearest-rank percentiles of ``value_col`` per group:
    the value at row floor((n-1) * p) of the (value, doc_id) total
    order — integer rank selection, no interpolation, so the result is
    deterministic and engine-portable (quantile_cont's lerp arithmetic
    is not pinned across engines).

    One shuffle: the per-group sort window.  Exact ranks need the
    total order, which is fine up to ~10^8 rows per group; at corpus
    scale swap in approxQuantile on a sample and pass the thresholds
    to a CASE — the ppl_buckets pattern."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col("doc_id").asc()
    )
    cw = Window.partitionBy(group_col)
    ranked = df.select(
        group_col, "doc_id", value_col,
        (F.row_number().over(w) - 1).alias("_rn"),
        F.count("*").over(cw).alias("_n"),
    )
    out = None
    for p in pcts:
        sel = ranked.filter(
            F.col("_rn")
            == F.floor((F.col("_n") - 1) * (p / 100.0)).cast("int")
        ).select(
            group_col,
            F.lit(p).alias("pct"),
            F.col(value_col).alias("value"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


def readability(df, text_col: str = "text", id_col: str = "doc_id"):
    """Flesch reading-ease per document (Flesch 1948 — the classic
    readability screen; extreme scores flag machine-generated or
    keyword-stuffed pages the length/symbol Gopher rules miss):

        206.835 - 1.015 * words/sentences - 84.6 * syllables/words

    with the standard regex estimators: sentences = non-empty
    ``[.!?]+`` segments, words = whitespace tokens, syllables = vowel
    groups ``[aeiouy]+`` over the lowercased text (the sum over words
    equals one whole-text count — no per-word loop).  Score is
    integer-quantized to e3 (floor) so the SQL twin is bit-exact;
    NULL when a doc has zero sentences or words.

    Pure column expressions — zero shuffles, codegen-resident; the
    three counts are reusable signals on their own."""
    t = F.col(text_col)
    n_sents = F.size(F.filter(
        F.split(t, "[.!?]+"), lambda s: F.trim(s) != ""
    )).cast("long")
    n_words = F.size(F.split(t, "\\s+")).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    score = F.floor(1000.0 * (
        F.lit(206.835)
        - 1.015 * n_words.cast("double") / n_sents.cast("double")
        - 84.6 * n_syll.cast("double") / n_words.cast("double")
    )).cast("long")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_sents.alias("n_sents"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.when((n_sents > 0) & (n_words > 0), score)
        .alias("flesch_e3"),
    )


def zipf_fit(df, text_col: str = "text", top_n: int = 200):
    """Corpus-health Zipf diagnostic: least-squares slope of
    log(frequency) against log(rank) over the ``top_n`` most frequent
    terms.  Natural text sits near slope -1 (Zipf 1949); a corpus
    polluted by templates or generated spam drifts shallow (repeated
    boilerplate flattens the head) or steep (tiny effective
    vocabulary), so the slope is a cheap per-snapshot regression
    monitor for an extraction pipeline.

    Determinism across engines: each term contributes INTEGER
    log-points ``lx = floor(1e4 * ln(rank))``, ``ly = floor(1e4 *
    ln(count))`` (the repo's integer-quantize-before-aggregate
    convention, operators/dsir.py), so the regression sums are exact
    BIGINTs; the closed-form slope/intercept are then single double
    divisions of exact integers — bit-stable in any IEEE engine,
    emitted e6-quantized.  Magnitudes stay under 2^53: even at
    10^12-token counts, ly <= ~2.8e5, so n*Sxy <= ~6e14 for n=200.

    Scale: one vocabulary-keyed map-combined count, then a global
    top-n (TakeOrderedAndProject — executors keep local heaps of n,
    the driver merges n*partitions rows); the regression itself is a
    1-row aggregate over n rows.  Rank ties break (count desc, term
    asc) so the rank assignment is total and portable."""
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col("_c").desc(), F.col("_w").asc())
    pts = counts.select(
        F.floor(1e4 * F.log(F.row_number().over(w).cast("double")))
        .cast("long").alias("_lx"),
        F.floor(1e4 * F.log(F.col("_c").cast("double")))
        .cast("long").alias("_ly"),
    )
    s = pts.agg(
        F.count("*").alias("_n"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
    )
    det = (s["_n"] * s["_sxx"] - s["_sx"] * s["_sx"]).cast("double")
    slope = (s["_n"] * s["_sxy"] - s["_sx"] * s["_sy"]).cast("double") / det
    intercept = (
        s["_sy"].cast("double") / 1e4
        - slope * s["_sx"].cast("double") / 1e4
    ) / s["_n"].cast("double")
    return s.select(
        s["_n"].cast("long").alias("n_terms"),
        F.floor(1e6 * slope).cast("long").alias("slope_e6"),
        F.floor(1e6 * intercept).cast("long").alias("intercept_e6"),
    )


def extraction_churn(df, id_col: str = "doc_id",
                     old_col: str = "old_text", new_col: str = "new_text",
                     prefix_chars: int = 400,
                     rel_change_max_e6: int = 100_000,
                     prefix_dist_max: int = 40):
    """Extractor-upgrade QA: per-document churn between two extraction
    versions of the same page (the regression gate run before rolling a
    new rule cascade over the full corpus — re-extract a sample, diff
    against the previous run's output, block the rollout if churn
    spikes).

    Signals per doc: exact-match flag, byte-length delta with an
    e6-quantized relative change (vs the old length), and Levenshtein
    distance over the first ``prefix_chars`` chars — capping the O(m*n)
    DP keeps the cost bounded per row regardless of document size
    (400^2 cells worst-case) while still catching head-of-document
    damage, where extraction bugs concentrate (lost headlines, leading
    boilerplate reinjection).  ``churned`` fires when the relative
    length change exceeds ``rel_change_max_e6`` (default 10%) or the
    prefix distance exceeds ``prefix_dist_max``.

    Pure column expressions (levenshtein is a JVM codegen builtin) —
    zero shuffles, composes as a filter ahead of a count/rollup."""
    old_t, new_t = F.col(old_col), F.col(new_col)
    len_old = F.length(old_t).cast("long")
    len_new = F.length(new_t).cast("long")
    rel = F.floor(
        1e6 * F.abs(len_new - len_old).cast("double")
        / F.greatest(len_old, F.lit(1)).cast("double")
    ).cast("long")
    pdist = F.levenshtein(
        F.substring(old_t, 1, prefix_chars),
        F.substring(new_t, 1, prefix_chars),
    ).cast("long")
    return df.select(
        F.col(id_col).alias("doc_id"),
        (old_t == new_t).alias("exact_match"),
        len_old.alias("len_old"),
        len_new.alias("len_new"),
        rel.alias("rel_change_e6"),
        pdist.alias("prefix_dist"),
        ((rel > rel_change_max_e6) | (pdist > prefix_dist_max))
        .alias("churned"),
    )


def token_fertility(df, text_col: str = "text", group_col: str = "lang"):
    """Tokenizer-fertility accounting per group (the sizing table every
    multilingual budget plan starts from: how many BPE-ish tokens a
    character or whitespace word costs in each language — high fertility
    means the tokenizer fragments that language and its effective
    context window shrinks).

    chars_per_token_e6 and tokens_per_word_e6 are e6-floored ratios of
    EXACT integer sums (chars, BPE-ish tokens, whitespace words are all
    integer counts aggregated with map-side combine), so the output is
    bit-stable across engines and partitionings.  One group-keyed
    shuffle."""
    t = F.col(text_col)
    per = df.select(
        group_col,
        F.length(t).cast("long").alias("_chars"),
        F.size(F.regexp_extract_all(t, F.lit(_BPE_ISH), 0))
        .cast("long").alias("_toks"),
        F.size(F.split(t, " ")).cast("long").alias("_words"),
    )
    g = per.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_chars").alias("total_chars"),
        F.sum("_toks").alias("total_tokens"),
        F.sum("_words").alias("total_words"),
    )
    return g.select(
        group_col, "n_docs", "total_chars", "total_tokens", "total_words",
        F.floor(1e6 * F.col("total_chars").cast("double")
                / F.greatest(F.col("total_tokens"), F.lit(1))
                .cast("double")).cast("long").alias("chars_per_token_e6"),
        F.floor(1e6 * F.col("total_tokens").cast("double")
                / F.greatest(F.col("total_words"), F.lit(1))
                .cast("double")).cast("long").alias("tokens_per_word_e6"),
    )


# Unicode scripts profiled by script_mix, in dominance tie-break order.
# Java spells the property \p{IsLatin}, RE2 (the DuckDB oracle dialect)
# \p{Latin}; the oracle generator strips the Is prefix — same classes.
SCRIPTS = ("Latin", "Cyrillic", "Greek", "Han", "Arabic")


def script_mix(df, text_col: str = "text", id_col: str = "doc_id",
               mixed_min_e6: int = 100_000):
    """Unicode-script profile per document — the precursor signal to
    language ID and a direct spam/spoofing detector (mixed-script
    tokens are the classic homoglyph trick; a "Latin" page that is 30%
    Cyrillic is either misrouted or adversarial).

    Per doc: a letter count for each of SCRIPTS (strip-count — length
    minus length with the script class removed), the scripted total,
    the dominant script (first in SCRIPTS order to reach the max — the
    deterministic fold, 'none' when no scripted chars), and a
    ``mixed`` flag that fires when the NON-dominant scripts carry more
    than ``mixed_min_e6`` (default 10%) of scripted chars — an integer
    cross-multiply, never a float ratio.

    Pure column expressions, zero shuffle, codegen-resident."""
    t = F.col(text_col)
    cnt = {
        s: (F.length(t)
            - F.length(F.regexp_replace(t, "[\\p{Is%s}]" % s, "")))
        .cast("long")
        for s in SCRIPTS
    }
    total = None
    for s in SCRIPTS:
        total = cnt[s] if total is None else total + cnt[s]
    dom = F.lit("none")
    dom_n = F.lit(0).cast("long")
    # fold from the END so the FIRST script in SCRIPTS wins ties
    for s in reversed(SCRIPTS):
        ge_all = None
        for o in SCRIPTS:
            c = cnt[s] >= cnt[o]
            ge_all = c if ge_all is None else (ge_all & c)
        take = (cnt[s] > 0) & ge_all
        dom = F.when(take, F.lit(s.lower())).otherwise(dom)
        dom_n = F.when(take, cnt[s]).otherwise(dom_n)
    mixed = (total - dom_n) * 1_000_000 > F.lit(mixed_min_e6) * total
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[cnt[s].alias("n_" + s.lower()) for s in SCRIPTS],
        total.alias("n_scripted"),
        dom.alias("dominant_script"),
        (mixed & (total > 0)).alias("mixed"),
    )


def polyglot_profile(df, text_col: str = "text", id_col: str = "doc_id",
                     para_sep: str = "\n"):
    """Per-document language segmentation at paragraph granularity —
    the mC4/CCNet refinement over whole-document lang-ID: web pages
    routinely mix languages (quoted sources, boilerplate chrome in the
    site language, bilingual articles), and a corpus builder wants to
    know WHICH docs are mixed before routing them to per-language
    filters.

    Splits each document on ``para_sep``, drops blank paragraphs,
    classifies each remaining paragraph with the same stopword
    heuristic as :func:`lang_id`, and folds per document:
    ``c_<lang>`` paragraph counts per class (en/de/fr/nl/und),
    ``n_paras``, ``majority_lang`` (argmax count; ties break in
    _LANG_ORDER order with real languages beating 'und'),
    ``n_majority`` (the winning count), ``n_langs`` (distinct real
    languages present) and ``is_polyglot`` (>= 2 real languages).
    Documents with no non-blank paragraph yield no row (they carry no
    classifiable text — the :func:`line_dedup` convention).

    Scale shape (10^12 docs): the explode is pipelined (no shuffle),
    per-paragraph scoring is pure column expressions, and the fold is
    ONE doc-keyed map-combined groupBy of five conditional counters —
    a fixed-width row per doc on the wire.  No window, no second
    shuffle; skew follows document size, which upstream size-bucketing
    already spreads."""
    classes = _LANG_ORDER + ("und",)
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), para_sep)).alias("_para"),
    ).filter(F.trim(F.col("_para")) != "")
    scored = paras.select("doc_id", _lang_best("_para")[0].alias("_pl"))
    agg = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("_pl") == c, 1).otherwise(0))
            .cast("long")
            .alias("c_" + c)
            for c in classes
        ]
    )
    # argmax fold, strictly-greater so earlier classes win ties and
    # every real language beats an equal 'und' count — the same fold
    # discipline as _lang_best / script_mix
    best_lang = F.lit("und")
    best_n = F.lit(0).cast("long")
    for c in classes:
        take = F.col("c_" + c) > best_n
        best_lang = F.when(take, F.lit(c)).otherwise(best_lang)
        best_n = F.when(take, F.col("c_" + c)).otherwise(best_n)
    n_paras = None
    for c in classes:
        col = F.col("c_" + c)
        n_paras = col if n_paras is None else n_paras + col
    n_langs = None
    for c in _LANG_ORDER:
        flag = (F.col("c_" + c) > 0).cast("long")
        n_langs = flag if n_langs is None else n_langs + flag
    return agg.select(
        "doc_id",
        n_paras.alias("n_paras"),
        *["c_" + c for c in classes],
        best_lang.alias("majority_lang"),
        best_n.alias("n_majority"),
        n_langs.alias("n_langs"),
        (n_langs >= 2).alias("is_polyglot"),
    )


def corpus_mix_cube(df, text_col: str = "text", lang_col: str = "lang",
                    id_col: str = "doc_id"):
    """Training-mix accounting ROLLUP: docs and tokens by language ×
    quality band × length band, with hierarchical subtotals — the
    one-pass report a mix planner reads before assigning sampling
    weights (how many en/high-quality/long tokens do we actually
    have?).

    Bands: quality_e6 quartile-ish bands q0..q3 (floor(q/250000),
    clamped to 3) and length bands xs/s/m/l at 32/128/512 tokens.
    Subtotal rows carry the '(all)' sentinel in aggregated-out dims
    plus explicit 0/1 grouping flags — NULL-free output so value
    comparison is total-order stable.

    Scale shape (10^12 docs): ROLLUP compiles to ONE Expand (4 rows
    per input for 3 dims) feeding a partially-combined aggregate —
    the map side collapses to ~|langs|x4x4x4 rows before the single
    low-cardinality exchange.  No window, no second pass per
    subtotal level."""
    q = quality_score(text_col)
    n_tok = token_count(text_col)
    q_band = F.concat(
        F.lit("q"), F.least(F.floor(q / 250000), F.lit(3)).cast("int")
    )
    len_band = (
        F.when(n_tok < 32, "xs")
        .when(n_tok < 128, "s")
        .when(n_tok < 512, "m")
        .otherwise("l")
    )
    base = df.select(
        F.col(lang_col).alias("lang"),
        q_band.alias("q_band"),
        len_band.alias("len_band"),
        n_tok.cast("long").alias("_nt"),
    )
    out = base.rollup("lang", "q_band", "len_band").agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.grouping("lang").cast("long").alias("g_lang"),
        F.grouping("q_band").cast("long").alias("g_q"),
        F.grouping("len_band").cast("long").alias("g_len"),
    )
    return out.select(
        F.coalesce("lang", F.lit("(all)")).alias("lang"),
        F.coalesce("q_band", F.lit("(all)")).alias("q_band"),
        F.coalesce("len_band", F.lit("(all)")).alias("len_band"),
        "g_lang", "g_q", "g_len", "n_docs", "total_tokens",
    )


def oov_rate(df, vocab_size: int = 1000, text_col: str = "text",
             id_col: str = "doc_id"):
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` vocabulary — a cheap fluency/noise signal
    (gibberish, OCR damage and boilerplate code score high; CCNet and
    Gopher both gate on related vocabulary statistics).

    Vocabulary = the ``vocab_size`` most frequent whitespace tokens,
    ties broken (count DESC, token ASC) so the set is deterministic.
    Returns (doc_id, n_tokens, n_oov, oov_e6) with ``oov_e6`` the
    floor-quantized rate in [0, 1e6].

    Scale shape: vocabulary = one vocab-keyed map-combined count +
    global top-K (TakeOrderedAndProject — executor-local heaps, no
    full sort); membership = the exploded token stream broadcast-
    semi-joined against the K-row vocab (no shuffle); per-doc fold =
    ONE doc-keyed map-combined groupBy; the id-keyed join back to the
    doc table is AQE-broadcastable when the doc list is filtered,
    co-partitioned otherwise."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("_w"),
    )
    vocab = (
        toks.groupBy("_w")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(vocab_size)
        .select("_w")
    )
    in_vocab = toks.join(F.broadcast(vocab), "_w", "left_semi")
    n_in = in_vocab.groupBy("doc_id").agg(
        F.count("*").alias("_n_in")
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    j = totals.join(n_in, "doc_id", "left").select(
        "doc_id", "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_in", F.lit(0)))
        .alias("n_oov"),
    )
    return j.select(
        "doc_id", "n_tokens", "n_oov",
        F.floor(
            1e6 * F.col("n_oov").cast("double")
            / F.greatest(F.col("n_tokens").cast("double"), F.lit(1.0))
        ).cast("long").alias("oov_e6"),
    )


def heavy_hitters(df, key_col: str, k: int = 20):
    """Exact top-``k`` heavy hitters of ``key_col`` with their share of
    the total row stream — the skew diagnostic this engine's own caps
    are tuned from: the hot LSH buckets, boilerplate lines and mega
    hosts that would dominate a shuffle are exactly the keys this
    surfaces (cf. the max_bucket_size / max_doc_frac / host caps in
    operators/dedup).

    Returns (value, n, rank, share_e6) — share floor-quantized against
    the exact total so the report is integer-stable.

    Scale shape: one key-keyed map-combined count, a global top-k via
    TakeOrderedAndProject (executor-local k-heaps, no full sort), the
    1-row total broadcast back, and a rank window over the <= k
    surviving rows (bounded by construction — allowlisted in the plan
    lint).  Nothing unbounded ever sorts globally."""
    counts = (
        df.groupBy(F.col(key_col).alias("value"))
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    top = counts.orderBy(F.col("n").desc(), F.col("value").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("value").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "value", "n", "rank",
            F.floor(
                1e6 * F.col("n").cast("double")
                / F.greatest(F.col("_tot").cast("double"), F.lit(1.0))
            ).cast("long").alias("share_e6"),
        )
    )
