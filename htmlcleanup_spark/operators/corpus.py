"""Corpus-preparation operators round 5: the C4 heuristic filter,
sentence segmentation, a hashed linear quality scorer, deterministic
training-order shuffle, and the BPE pair-count step.

All five are published-pipeline staples (C4 / Raffel et al. 2020 §2.2;
Sennrich et al. 2016 BPE; the fastText-style linear quality filters of
CCNet/LLaMA) re-expressed as declarative Spark plans: column
expressions and array lambdas stay in whole-stage codegen; the only
shuffles are key-spread aggregations (word/pair/doc keyed), never a
global window; every float that crosses an aggregation is quantized to
integers first (the repo's portable-hash + integer-dot-product
conventions, see operators/dsir.py) so results are bit-stable across
partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["c4_filter", "sentence_split", "quality_classifier",
           "deterministic_shuffle", "bpe_pair_counts",
           "doc_line_dedup", "learn_bpe", "apply_bpe",
           "badwords_filter", "BADWORD_MARKERS",
           "refinedweb_line_rules", "COUNTER_NOUNS",
           "jsonl_export", "JSON_ESCAPES"]

# C4's line filter: terminal punctuation (the paper keeps lines ending
# in a terminal punctuation mark; '"' covers quoted dialogue endings)
_TERMINAL_RE = '[.!?"]\\s*$'
_SENT_MARK_RE = "[.!?]"


def c4_filter(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              min_words_per_line: int = 5,
              min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2) over
    newline-delimited page text:

    line level (kept lines only feed ``clean_text``):
      - ends in a terminal punctuation mark;
      - has at least ``min_words_per_line`` words;
      - does not contain the word "javascript" (case-insensitive).
    page level (the ``keep`` verdict):
      - at least ``min_sentences`` sentences survive (terminal-mark
        count over the kept text);
      - no curly brace ``{`` anywhere (code detector);
      - no "lorem ipsum" (case-insensitive) anywhere.

    Returns (id, clean_text, n_lines_kept, n_sentences, keep).

    Scale: pure per-row array lambdas — zero shuffles, zero Python;
    composes as a pushed-down filter ahead of any dedup/tokenize stage
    exactly as C4 runs it.  The kept-lines array is materialized in its
    own projection first: filter() lambdas are interpreted with no
    common-subexpression elimination, so referencing the expression from
    three output columns would run the per-line regex scan three times
    per row."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: (
            F.regexp_like(l, F.lit(_TERMINAL_RE))
            & (F.size(F.split(F.trim(l), " +")) >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        ),
    )
    base = df.select(id_col, text_col, kept.alias("_kept"))
    clean = F.array_join(F.col("_kept"), "\n")
    n_sent = F.regexp_count(clean, F.lit(_SENT_MARK_RE))
    return base.select(
        id_col,
        clean.alias("clean_text"),
        F.size("_kept").alias("n_lines_kept"),
        n_sent.cast("int").alias("n_sentences"),
        (
            (n_sent >= min_sentences)
            & ~F.col(text_col).contains("{")
            & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        ).alias("keep"),
    )


def sentence_split(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Sentence segmentation to (id, sent_id, sentence): terminal mark
    followed by whitespace ends a sentence.  RE2 (the DuckDB oracle
    dialect) has no lookbehind, so the split is the portable two-step —
    rewrite ``([.!?])\\s+`` to ``$1<RS>`` (ASCII record separator, a
    character that cannot appear in text) then split on <RS>.

    Zero shuffles: posexplode is a per-row generator; sent_id is the
    in-document position, no window needed."""
    marked = F.regexp_replace(
        F.col(text_col), "([.!?])\\s+", "$1\x1e"
    )
    return (
        df.select(
            id_col,
            F.posexplode(F.split(marked, "\x1e")).alias(
                "sent_id", "sentence"
            ),
        )
        .filter(F.trim(F.col("sentence")) != "")
        .select(id_col, F.col("sent_id").cast("int"), "sentence")
    )


def _hex_long(col: Column, nibbles: int) -> Column:
    return F.conv(F.substring(col, 1, nibbles), 16, 10).cast("long")


def quality_classifier(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", dim: int = 1024,
                       salt: str = "q1") -> DataFrame:
    """Hashed-feature linear quality scorer (the shape of the
    fastText-style classifiers CCNet/LLaMA/FineWeb use to score pages;
    weights here are a deterministic md5-derived stand-in for trained
    ones — swap ``_weight_e6`` for a broadcast of real weights and the
    plan is unchanged):

      feature index = md5(salt:word) mod ``dim``  (hashing trick)
      weight_e6     = md5-uniform in [-1e6, 1e6)  (integer-quantized)
      score_e6      = sum of weight_e6 over the token stream

    The weight is quantized to integers BEFORE the per-document sum, so
    the aggregate is exact integer arithmetic — no float-accumulation
    order dependence across partitionings (operators/dsir.py:70
    convention).  ONE doc-keyed map-combined shuffle; everything else
    is codegen column math.  Returns (id, n_terms, score_e6)."""
    idx = (
        _hex_long(
            F.md5(F.concat_ws(":", F.lit(salt), F.col("_w"))), 15
        ) % dim
    )
    w_e6 = F.floor(
        (
            _hex_long(
                F.md5(F.concat_ws(":", F.lit("qw"), idx.cast("string"))),
                8,
            ).cast("double")
            / F.lit(4294967296.0) * F.lit(2.0) - F.lit(1.0)
        ) * F.lit(1000000.0)
    ).cast("long")
    return (
        df.select(
            id_col,
            F.explode(F.split(F.col(text_col), " ")).alias("_w"),
        )
        .select(id_col, w_e6.alias("_we6"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("_we6").alias("score_e6"),
        )
    )


def deterministic_shuffle(df: DataFrame, seed: str = "epoch0",
                          id_col: str = "doc_id",
                          n_shards: int = 256) -> DataFrame:
    """Training-order shuffle: a seedless, reproducible global
    permutation of the corpus — order by md5(seed:id) — materialized as
    (id, shard, pos): the output shard a document lands in and its
    position within that shard.  Changing ``seed`` redraws the epoch
    order; a retried task recomputes the identical assignment.

    The shard IS the top of the hash key (first 2 hex chars mod
    ``n_shards``), so shard order + position order == one global hash
    order, but the rank window partitions by shard — 256+ way spread,
    never a global Window.orderBy.  The loader reads shards in
    numeric order (or round-robins them) for the epoch stream."""
    from pyspark.sql.window import Window

    key = F.md5(
        F.concat_ws(":", F.lit("shuf"), F.lit(seed),
                    F.col(id_col).cast("string"))
    )
    shard = (_hex_long(key, 2) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.col("_key").asc(), F.col(id_col).asc()
    )
    return (
        df.select(id_col, key.alias("_key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    top_k: int = 50) -> DataFrame:
    """The BPE training inner step (Sennrich et al. 2016): count
    adjacent character pairs inside whitespace tokens across the
    corpus and return the ``top_k`` most frequent — the pair the next
    merge would fuse is row 1.  (A full BPE train loops this with a
    broadcast merge table; the count step is the distributed part.)

    Plan: per-row generators (explode words, then in-word pair slices)
    feed ONE pair-keyed map-combined groupBy; the top-k is a
    TakeOrdered over the aggregated pair vocabulary (bounded by
    |alphabet|^2), never a full sort of the corpus.  Total order
    (count desc, pair asc) makes the cut deterministic under ties."""
    words = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("_w")
    ).filter(F.length("_w") >= 2)
    # substring with a column start position needs the SQL form
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(_w) - 1),"
                " i -> substr(_w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def learn_bpe(df: DataFrame, text_col: str = "text", n_merges: int = 8,
              token_pattern: str = "^[a-z]+$") -> DataFrame:
    """Full BPE merge-rule learning (Sennrich et al. 2016): iterate the
    count-merge loop ``n_merges`` times and return the learned merge
    table (step, l, r, merged, pair_count) — the artifact a tokenizer
    trainer ships.  ``bpe_pair_counts`` is the single inner step; this
    is the whole train loop.

    Distributed shape (the HuggingFace-tokenizers trick, Spark-ified):
    collapse the corpus to a WORD-COUNT table first — every later
    iteration runs over the vocabulary (|V| rows, corpus-independent),
    never the corpus.  Each word is a symbol string with a double-space
    separator and single-space sentinels (`` h  e  y ``), so applying a
    merge is ONE literal JVM ``replace`` (left-to-right non-overlapping
    scan = BPE's greedy-leftmost semantics; the shared half of each
    double gap keeps the invariant for the next round).  Per iteration:
    one vocab-keyed map-combined groupBy for pair counts + a 1-row
    collect for the argmax (total order: count desc, pair asc), then a
    LAZY localCheckpoint cuts the lineage -- the next round's argmax
    collect materializes it, so each round runs one job (reliable
    checkpoint on a cluster).  ``token_pattern`` bounds the alphabet (and keeps the
    char-split portable to the SQL oracle).
    """
    spark = df.sparkSession
    wc = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w").rlike(token_pattern))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    sym = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("w"), ""), "  "), F.lit(" ")
    )
    # lazy cut: each round's argmax collect is the first consumer of the
    # current symbol table and materializes its blocks, so an eager cut
    # would only add a blocking job per merge round
    cur = wc.select(sym.alias("s"), "cnt").localCheckpoint(eager=False)
    pair_struct = F.expr(
        "transform(sequence(1, size(_t) - 1),"
        " i -> struct(_t[i-1] AS l, _t[i] AS r))"
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        toks = cur.select(
            F.split(F.trim(F.col("s")), "  ").alias("_t"), "cnt"
        ).filter(F.size("_t") >= 2)
        pc = (
            toks.select(F.explode(pair_struct).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = pc.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((step, l, r, l + r, c))
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit(" %s  %s " % (l, r)),
                F.lit(" %s%s " % (l, r)),
            ).alias("s"),
            "cnt",
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges,
        "step int, l string, r string, merged string, pair_count long",
    )


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              token_pattern: str = "^[a-z]+$") -> DataFrame:
    """BPE ENCODE: segment the corpus vocabulary with an already-learned
    merge list (the inference half of learn_bpe; ship the merge table,
    apply it anywhere).  Returns one row per word — (w, cnt, pieces,
    n_pieces) — the lookup table a tokenizer service materializes;
    encoding a document is then a broadcast join on its words.

    The merge list is driver-side tiny (10k-50k rules in real
    tokenizers), so application is a CHAIN of literal JVM ``replace``
    expressions over the double-space symbol string — one codegen'd
    projection, zero shuffles beyond the word-count groupBy, identical
    greedy-leftmost semantics to the train loop.  Rules MUST apply in
    learned (step) order: a later rule's left/right symbols only exist
    after earlier rules fire.
    """
    wc = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w").rlike(token_pattern))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    s = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("w"), ""), "  "), F.lit(" ")
    )
    for l, r in merges:
        s = F.replace(
            s, F.lit(" %s  %s " % (l, r)), F.lit(" %s%s " % (l, r))
        )
    pieces = F.split(F.trim(s), "  ")
    return wc.select(
        "w", "cnt",
        F.array_join(pieces, " ").alias("pieces"),
        F.size(pieces).alias("n_pieces"),
    )


def doc_line_dedup(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """INTRA-document repeated-line removal: within each document, keep
    only the first occurrence of every (trimmed) line — the pass that
    strips in-page repetition (pagination artifacts, repeated nav
    blocks inside one extraction) that corpus-level dedup
    (dedup.line_dedup, the CROSS-document twin) deliberately leaves
    alone.  Order of surviving lines is preserved.

    Returns (id, text, n_lines_kept, n_dupes_removed).

    Scale: every shuffle is keyed by the document — groupBy
    (id, line_key) min(pos) to pick first occurrences, then groupBy id
    with sort_array(collect_list(struct(pos, line))) to reassemble.
    No window, no cross-document exchange at all; a mega-document's
    lines stay one key-group only for its own reassembly (the same
    bound the cascade already carries per document)."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_key", F.md5(F.trim(F.col("line"))))
    first = (
        lines.groupBy("_id", "line_key")
        .agg(
            F.min(F.struct("pos", "line")).alias("_first"),
            F.count("*").alias("_n"),
        )
    )
    return (
        first.groupBy("_id")
        .agg(
            F.sort_array(F.collect_list("_first")).alias("_pl"),
            F.count("*").alias("n_lines_kept"),
            (F.sum("_n") - F.count("*")).alias("n_dupes_removed"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.concat_ws(
                "\n", F.transform("_pl", lambda s: s["line"])
            ).alias(text_col),
            F.col("n_lines_kept").cast("int"),
            F.col("n_dupes_removed").cast("int"),
        )
    )


# adult/spam marker subset — the C4 rule uses the public LDNOOBW word
# list ("List of Dirty, Naughty, Obscene..."); ship-swap the full list
# here in production.  Kept deliberately small and non-slur in-repo.
BADWORD_MARKERS = (
    "porn", "xxx", "sex", "nude", "nsfw", "viagra", "casino",
    "gambling", "escort", "erotic",
)


def badwords_filter(df: DataFrame, text_col: str = "text",
                    words: tuple[str, ...] = BADWORD_MARKERS) -> DataFrame:
    """The C4 bad-words page rule (Raffel et al. 2020 §2.2: drop any
    page containing a word from the public LDNOOBW list), as a SOFT
    score + hard verdict.  Returns ``df``'s columns followed by
    (n_flagged, flagged_frac_e6, keep) with keep = zero flagged tokens —
    the C4 semantics, so a gate is ``badwords_filter(df).filter("keep")``;
    downstream can instead threshold the fraction (the CCNet-style soft
    policy).

    Matching is whole-token on the whitespace split, lowercased —
    substring matching ("classic" contains...) is exactly the C4
    false-positive bug class this avoids.  Pure per-row array lambdas:
    zero shuffles, zero Python, codegen-resident, composes as a
    pushed-down filter like c4_filter."""
    ws = F.split(F.col(text_col), " ")
    lit_words = F.array(*[F.lit(w) for w in words])
    flagged = F.filter(
        ws, lambda w: F.array_contains(lit_words, F.lower(w))
    )
    # materialize the interpreted filter's count once: three output
    # columns reference it, and filter() lambdas have no CSE — the whole
    # token scan would run three times per row otherwise
    base = df.select(
        "*",
        F.size(flagged).alias("_n"),
        F.size(ws).alias("_nw"),
    )
    n = F.col("_n")
    return base.select(
        *df.columns,
        n.alias("n_flagged"),
        F.floor(
            n.cast("double")
            / F.greatest(F.col("_nw").cast("double"), F.lit(1.0))
            * 1e6
        ).cast("long").alias("flagged_frac_e6"),
        (n == 0).alias("keep"),
    )


# RefinedWeb's social-counter nouns (Penedo et al. 2023, Appx G.2) —
# the ORACLE SQL in __spark_entry__ is generated from this tuple so the
# two can never drift.
COUNTER_NOUNS = ("likes", "comments", "shares", "views", "followers",
                 "retweets", "points", "votes", "replies")


def refinedweb_line_rules(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_removed_ratio_e6: int = 50_000) -> DataFrame:
    """RefinedWeb's line-wise corrections (Penedo et al. 2023, Appx
    G.2) — the post-extraction repair pass that runs AFTER boilerplate
    stripping and BEFORE dedup, complementary to the C4 line filter
    (c4_filter keeps prose-shaped lines; this removes the specific
    social-media artifacts trafilatura-style extraction leaks):

    a line is removed when it is
      - mainly uppercase (strict majority of its alphabetic chars —
        integer compare ``2*upper > alpha``, no float ratio);
      - only numerical characters (``^[0-9]+$`` after trim);
      - a social counter (``^<digits> <noun>$`` over COUNTER_NOUNS,
        case-insensitive);
      - a single word (no internal whitespace, non-empty).

    Document verdict: if removed lines exceed ``max_removed_ratio_e6``
    (RefinedWeb's 5%) of the document's chars, the WHOLE document is
    dropped (``keep`` false) — heavy line damage means the page was a
    feed/forum shell, not an article with stray counters.

    Returns (id, clean_text, n_lines_removed, removed_ratio_e6, keep).

    Scale: pure per-row array lambdas over the line split — zero
    shuffles, whole-stage codegen, no Python; the ratio is quantized to
    integers so the verdict is bit-stable across engines."""
    counter_re = "(?i)^[0-9]+ (" + "|".join(COUNTER_NOUNS) + ")$"

    def removed(l):
        t = F.trim(l)
        alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
        upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
        return (
            ((alpha > 0) & (upper * 2 > alpha))
            | F.regexp_like(t, F.lit("^[0-9]+$"))
            | F.regexp_like(t, F.lit(counter_re))
            | ((t != "") & ~t.contains(" "))
        )

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda l: ~removed(l))
    # materialize the interpreted filter once (no CSE for HOF lambdas):
    # clean_text, the removed-line count and the char ratio all derive
    # from it — inline, the 4-regex-per-line scan would run 4x per row
    base = df.select(
        id_col,
        F.col(text_col),
        F.size(lines).alias("_nl"),
        kept.alias("_kept"),
    )
    clean = F.array_join(F.col("_kept"), "\n")
    total = F.greatest(F.length(F.col(text_col)), F.lit(1)).cast("long")
    removed_chars = (
        F.length(F.col(text_col)).cast("long") - F.length(clean).cast("long")
    )
    ratio = F.floor(
        1e6 * removed_chars.cast("double") / total.cast("double")
    ).cast("long")
    return base.select(
        id_col,
        clean.alias("clean_text"),
        (F.col("_nl") - F.size("_kept")).cast("int")
        .alias("n_lines_removed"),
        ratio.alias("removed_ratio_e6"),
        (ratio <= max_removed_ratio_e6).alias("keep"),
    )


# minimal JSON string-escape set: structural chars plus the control
# chars that occur in extracted text.  Replacement ORDER is load-bearing
# (backslash first); the DuckDB oracle chains the same replaces in the
# same order.
JSON_ESCAPES = (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                ("\r", "\\r"), ("\t", "\\t"))


def jsonl_export(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", source_col: str = "source",
                 n_shards: int = 8) -> DataFrame:
    """Dolma-shape JSONL training-shard export: each document becomes
    one hand-assembled JSON line ``{"id": ..., "text": "...",
    "source": "..."}`` with a deterministic shard assignment
    (``id % n_shards``) — the format-conversion step between the
    curated corpus and a trainer's data loader.

    The JSON is built by string concat over an explicit escape chain
    (JSON_ESCAPES, backslash first) rather than an engine to_json so
    the bytes are identical across engines and runs — a JSONL shard is
    a training artifact whose stability matters (hash-pinned data
    cards).  Escapes cover the chars extraction emits (structural +
    \\n \\r \\t); exotic C0 controls are upstream-normalized
    (functions/charset.normalize_text).

    Scale: pure column expressions, zero shuffle — write with
    ``.write.partitionBy("shard")`` and each shard lands as its own
    file set; at corpus scale repartition(n_shards, "shard") first so
    each shard is one writer's sequential stream."""
    def esc(c):
        for a, b in JSON_ESCAPES:
            c = F.replace(c, F.lit(a), F.lit(b))
        return c

    line = F.concat(
        F.lit('{"id": '), F.col(id_col).cast("string"),
        F.lit(', "text": "'), esc(F.col(text_col)),
        F.lit('", "source": "'), esc(F.col(source_col)),
        F.lit('"}'),
    )
    return df.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(id_col),
        line.alias("line"),
    )


def filter_funnel(df: DataFrame, stages, text_col: str = "text"):
    """Per-stage attrition accounting for a filter pipeline — the
    funnel table every production corpus build publishes (docs/tokens
    in, dropped, kept at each stage; cf. the FineWeb and Dolma data
    cards).  ``stages`` is the ORDERED list of (name, boolean Column)
    keep-predicates; a document is charged to the FIRST stage whose
    predicate it fails (sequential semantics: a doc failing stages 2
    and 4 is stage-2 attrition only, exactly as if the filters ran as
    chained ``.filter`` calls).

    Plan shape: every stage flag folds into ONE first-failing-stage
    CASE expression (coalesce of per-stage WHENs), so the whole funnel
    is a single projection into ONE map-combined groupBy on a key with
    at most len(stages)+1 values — each map task emits <= S+1 partial
    rows regardless of input size, reducers see tasks*(S+1) tiny rows.
    The cumulative docs_in arithmetic then runs on <= S+1 rows (a
    window over the stage axis + a 1-row broadcast total).  No join
    touches the corpus; works unchanged at 10^12 docs.

    Returns one row per stage: (stage_idx, stage, docs_in,
    docs_dropped, docs_kept, tokens_in, tokens_dropped, tokens_kept,
    drop_rate_e6), where *_in of stage k excludes everything earlier
    stages dropped and drop_rate_e6 = floor(1e6 * dropped / in).
    """
    from pyspark.sql.window import Window

    if not stages:
        raise ValueError("stages must be non-empty")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError("stage names must be unique")
    first_fail = F.coalesce(
        *[F.when(~c, F.lit(i)) for i, (_, c) in enumerate(stages)],
        F.lit(len(stages)),
    )
    ntok = F.size(F.split(F.col(text_col), "\\s+")).cast("long")
    per = (
        df.select(first_fail.alias("_fd"), ntok.alias("_tok"))
        .groupBy("_fd")
        .agg(F.count("*").alias("_n"), F.sum("_tok").alias("_t"))
    )
    spark = df.sparkSession
    axis = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)],
        "stage_idx int, stage string",
    )
    # left-join the (<= S+1)-row agg onto the stage axis so zero-drop
    # stages still report; the survived-all sentinel row (_fd = S)
    # joins nothing and is absorbed into the totals below.
    j = axis.join(
        F.broadcast(per), axis.stage_idx == per._fd, "left"
    ).select(
        "stage_idx", "stage",
        F.coalesce(F.col("_n"), F.lit(0)).alias("docs_dropped"),
        F.coalesce(F.col("_t"), F.lit(0)).alias("tokens_dropped"),
    )
    tot = per.agg(
        F.sum("_n").alias("_N"), F.sum("_t").alias("_T")
    )
    w = (
        Window.orderBy("stage_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = (
        j.crossJoin(F.broadcast(tot))
        .withColumn(
            "docs_in",
            F.col("_N") - F.coalesce(
                F.sum("docs_dropped").over(w), F.lit(0)),
        )
        .withColumn(
            "tokens_in",
            F.col("_T") - F.coalesce(
                F.sum("tokens_dropped").over(w), F.lit(0)),
        )
    )
    return j.select(
        "stage_idx", "stage", "docs_in", "docs_dropped",
        (F.col("docs_in") - F.col("docs_dropped")).alias("docs_kept"),
        "tokens_in", "tokens_dropped",
        (F.col("tokens_in") - F.col("tokens_dropped"))
        .alias("tokens_kept"),
        F.when(
            F.col("docs_in") > 0,
            F.floor(F.lit(1000000) * F.col("docs_dropped")
                    / F.col("docs_in")),
        ).otherwise(F.lit(0)).cast("long").alias("drop_rate_e6"),
    )
