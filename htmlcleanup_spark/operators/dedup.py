"""Corpus deduplication operators (training-data pipeline layer).

All built from relational Spark primitives so Catalyst keeps them JVM-side
and whole-stage-codegen'd; the only shuffles are the groupBys/joins that the
semantics require.  Hashes use md5 (hex string) so a SQL oracle (DuckDB) can
reproduce every value bit-for-bit.

Scale notes (10^12-doc design):
- exact dedup: one hash-shuffle on the digest; map-side partial aggregation
  makes the shuffle carry one row per distinct digest per partition.
- minhash: explode(shingles) is the big intermediate; it stays pipelined
  (no shuffle) until the per-(doc, hash) min aggregation.  num_hashes and
  band layout are the usual LSH accuracy/cost dials.
- LSH pairs: the band-bucket self-join only materializes candidate pairs,
  never the O(n^2) cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.udf import doc_map


def _drop_hot_buckets(banded: DataFrame, keys: list[str],
                      max_bucket_size: int) -> DataFrame:
    """Drop rows whose bucket holds more than ``max_bucket_size`` members.

    A hot LSH bucket (a band key shared by m docs) emits m^2/2 candidate
    pairs — the quadratic tail that dominates the self-join at corpus
    scale while contributing near-zero information (its members are
    already found by their other bands, or the key is degenerate).  Hot
    buckets are few (Zipf head), so the anti-join side stays small and
    AQE broadcasts it — the cap costs no extra shuffle of the big table
    (same pattern as ngram_jaccard_pairs' max_shingle_df)."""
    hot = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*keys)
    )
    return banded.join(hot, keys, "left_anti")


def _pin(df: DataFrame) -> DataFrame:
    """Materialize-once for a DataFrame consumed by several branches
    (self-joins recompute the whole upstream lineage per side otherwise).

    localCheckpoint instead of persist(): persist registers the plan in the
    CacheManager, which holds a strong reference until an explicit
    unpersist() that a lazily-returned operator has no place to call — in a
    long-lived session those entries accumulate.  A localCheckpoint's blocks
    are tracked per-RDD by the ContextCleaner and freed when the consumer
    DataFrame is garbage-collected.  eager=False keeps the operator lazy.

    Fault-tolerance trade: localCheckpoint blocks live on executors
    unreplicated, so losing an executor fails the consuming job (Spark
    recomputes nothing — lineage was truncated).  For these SINGLE-job
    pins that is the same blast radius as losing a shuffle map output
    (the job retries); it is only iterative multi-job flows that need the
    reliable variant — connected_components takes ``checkpoint_dir`` for
    exactly that.
    """
    return df.localCheckpoint(eager=False)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest.

    Returns (text_hash, canonical_doc_id = min id, n_copies).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _words(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, _ws = split words) for docs with >= k words.

    The word array is materialized as a column first: higher-order lambdas
    are interpreted (no codegen, no common-subexpression elimination), so
    referencing ``split(text)`` inside the lambda would re-split the whole
    text per element — O(len^2) per document.  Docs with < k words yield no
    shingles (matches generate_series semantics in the SQL oracle).
    """
    return df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    ).filter(F.size("_ws") >= k)


def _shingle_expr(k: int):
    """Distinct k-word shingle array over the ``_ws`` word column.

    greatest(.., 0): rows with < k words are filtered out by _words, but
    optimizer rules (InferFiltersFromGenerate) may re-evaluate derived
    predicates on pre-filter rows — an unclamped descending sequence
    would then feed slice() a 0 start and abort the task.  The clamp
    never changes the array for any row with >= k words.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_ws") - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("_ws", i + 1, k)),
        )
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc: (id, shingle).

    per-doc distinct == distinct of (id, shingle): array_distinct does it
    map-side, so the explode carries no shuffle at all (a .distinct() here
    would shuffle the largest intermediate of the whole pipeline).

    The shingle expression stays INLINE as the explode child (not aliased
    to a column first): with a bare attribute child,
    InferFiltersFromGenerate copies ``size(expr) > 0 AND isnotnull(expr)``
    into the below-projection Filter, evaluating the whole shingle
    construction up to 3x per row; with a non-cheap expression child the
    rule skips the inference (SPARK-36715) and the array is built once.
    """
    return _words(df, text_col, id_col, k).select(
        F.col(id_col), F.explode(_shingle_expr(k)).alias("shingle")
    )


def minhash_wide(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3,
                 num_hashes: int = 8) -> DataFrame:
    """Wide MinHash signatures: (id, m0..m{num_hashes-1}) with ZERO shuffle.

    hash family j: md5(j || ':' || shingle); the per-doc minimum of a hex
    digest is a uniform random-permutation proxy, reproducible in any SQL
    engine.  Each min is taken INSIDE the row via array_min over the
    per-doc shingle array — the shingles of one document came from one row,
    so no explode/groupBy round trip is needed at all.  The previous
    explode -> groupBy(id).agg(min(md5)) plan paid a full exchange of the
    shingle table plus two SORTS: min over a string column has an immutable
    aggregation buffer, so Spark falls back from HashAggregate to
    SortAggregate — at corpus scale that sort of the largest intermediate
    in the pipeline dominates the whole docs->pairs cost.  array_min over
    hex strings is the identical lexicographic minimum, value-for-value.
    """
    sha = _words(df, text_col, id_col, k).select(
        F.col(id_col), _shingle_expr(k).alias("_sh")
    )
    return sha.select(
        F.col(id_col),
        *[
            F.array_min(
                F.transform(
                    F.col("_sh"),
                    lambda s: F.md5(F.concat_ws(":", F.lit(str(j)), s)),
                )
            ).alias("m%d" % j)
            for j in range(num_hashes)
        ],
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 8) -> DataFrame:
    """MinHash signature rows (id, hash_id, minhash): shuffle-free explode
    of :func:`minhash_wide`."""
    wide = minhash_wide(df, text_col, id_col, k, num_hashes)
    return wide.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("hash_id"),
                    F.col("m%d" % j).alias("minhash"),
                )
                for j in range(num_hashes)
            ])
        ).alias("jh"),
    ).select(id_col, "jh.hash_id", "jh.minhash")


def _banded_from_wide(wide: DataFrame, id_col: str, bands: int,
                      rows_per_band: int) -> DataFrame:
    """Map-side band keys from a wide signature: (id, band, band_key),
    rows within each band sorted before hashing so the key matches the
    oracle's ``string_agg(minhash ORDER BY minhash)`` convention."""
    return wide.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.array_sort(F.array(*[
                                F.col("m%d" % (b * rows_per_band + r))
                                for r in range(rows_per_band)
                            ])),
                        )
                    ).alias("band_key"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_key")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      bands: int = 4, rows_per_band: int = 2,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Fused MinHash+LSH candidate pairs straight from documents.

    Docs agreeing on all rows of any band of their minhash signature,
    as distinct (id_a, id_b) with id_a < id_b.  Band keys are computed
    map-side from the wide signature (sorted rows within each band,
    matching the oracle's ORDER BY minhash), and minhash_wide itself is a
    pure projection, so the whole docs -> candidate-pairs pipeline
    shuffles exactly ONCE at any scale: the band-bucket self-join (vs
    four for a band groupBy over ``minhash_signatures`` rows).
    ``max_bucket_size`` caps the m^2 hot-bucket tail (_drop_hot_buckets)
    — the dial to set at 10^12 docs, where one degenerate band key (e.g.
    boilerplate-only pages) otherwise emits a near-cartesian pair
    explosion.
    """
    wide = minhash_wide(df, text_col, id_col, k,
                        num_hashes=bands * rows_per_band)
    banded = _banded_from_wide(wide, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        banded = _drop_hot_buckets(banded, ["band", "band_key"],
                                   max_bucket_size)
    banded = _pin(banded)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cross_corpus_lsh_pairs(df_a: DataFrame, df_b: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           bands: int = 4, rows_per_band: int = 2,
                           max_bucket_size: int | None = None
                           ) -> DataFrame:
    """Two-corpus MinHash+LSH fuzzy join: near-duplicate candidates
    BETWEEN corpus A and corpus B — the "is this already in my corpus"
    primitive for incremental crawls (new dump vs accumulated corpus),
    cross-source dedup before mixing, and label transfer by near-dup.

    Same band-key construction as :func:`minhash_lsh_pairs` (the keys
    are corpus-independent functions of the text, so A and B bucket
    compatibly) but the band-bucket join is A-banded vs B-banded
    instead of a self-join: candidates are exactly the cross pairs, no
    within-corpus pairs and no id-ordering filter.  Returns distinct
    (id_a, id_b) with id_a from A and id_b from B.

    Scale shape (|A| new docs vs |B| = 10^12 corpus docs): the wide
    signatures are pure projections (no shuffle), so the only shuffle is
    the ONE band-key equi-join; B's banded table is a materialize-once
    artifact in practice (write it parquet, bucket by (band, band_key)
    so each incremental A joins with zero B-side shuffle).
    ``max_bucket_size`` caps each side's hot buckets independently —
    the cross blowup is |A_bucket| x |B_bucket|, so both factors need
    the cap at scale.
    """
    def _banded(df: DataFrame) -> DataFrame:
        wide = minhash_wide(df, text_col, id_col, k,
                            num_hashes=bands * rows_per_band)
        banded = _banded_from_wide(wide, id_col, bands, rows_per_band)
        if max_bucket_size is not None:
            banded = _drop_hot_buckets(banded, ["band", "band_key"],
                                       max_bucket_size)
        return banded

    a = _banded(df_a).select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    b = _banded(df_b).select(
        F.col(id_col).alias("id_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        candidates: DataFrame | None = None,
                        max_shingle_df: int | None = None,
                        hash_key: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs.

    Scale design — the naive plan (bare shingle self-join) is quadratic on
    hot shingles: a stopword shingle present in f documents yields f^2 join
    rows, effectively a cartesian product on that key at corpus scale.  Two
    independent work-prunes keep the join bounded, both applied BEFORE the
    self-join so they prune work, not output:

    - ``candidates`` (e.g. LSH output): the shingle table is first
      semi-joined to the candidate doc ids, and the exact (id_a, id_b) pair
      filter is applied before the intersection aggregation — only candidate
      pairs ever reach the groupBy.  Jaccard values are then identical to
      the unpruned ones for those pairs.
    - ``max_shingle_df``: shingles whose document frequency exceeds the cap
      are dropped from BOTH the intersection and the per-doc sizes, i.e. the
      Jaccard is defined over the informative-shingle universe (a shingle in
      thousands of docs carries ~zero similarity signal but dominates join
      cost).  This is the required dial for bare mode at 100 TB.

    ``hash_key=True`` replaces the shingle string with xxhash64(shingle)
    as the join/aggregation key: fixed 8-byte keys hash/sort measurably
    faster than variable-length strings (~25% on the sf0.1 bench).  The
    price is 64-bit collisions: with S distinct shingles, ~S^2/2^65
    colliding key pairs each perturb one intersection count by 1 — zero in
    any sandbox run, and at 10^10 distinct shingles still only a ~1e-6
    relative error on a handful of pairs, far below the threshold's
    discriminating power.  Default stays exact (False).

    Returns (id_a, id_b, jaccard rounded to 6).
    """
    sh = shingles(df, text_col, id_col, k)
    if hash_key:
        sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    if candidates is not None:
        ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(ids, id_col, "left_semi")
    # Pin BEFORE the df-cap: the cap's df aggregation, the anti-join, the
    # sizes aggregation and both self-join sides all read ONE
    # materialization of the shingle table instead of re-running the
    # split/transform/explode construction per consumer (pinning after the
    # anti-join paid a second full shingle-build pass just to compute the
    # hot set).
    sh = _pin(sh)
    if max_shingle_df is not None:
        # Anti-join against the HOT set, not semi-join against the rare
        # set: hot shingles (df > cap) are the Zipf head — a small table —
        # so AQE broadcasts it and the cap costs no extra shuffle of the
        # big shingle table (the df aggregation itself is map-side-combined
        # and carries one row per distinct shingle).  No broadcast hint: if
        # the hot set ever outgrows the threshold AQE falls back to SMJ,
        # still correct.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    matched = a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
    if candidates is not None:
        # Exact pair filter BELOW the aggregation: non-candidate pairs are
        # dropped row-by-row (broadcastable candidate set under AQE) instead
        # of being aggregated first and discarded after.
        matched = matched.join(
            candidates.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
        )
    inter = matched.groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnowed_fingerprints(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          w: int = 4) -> DataFrame:
    """Winnowing-sparsified document fingerprints: (id, fp) distinct.

    Every k-token span is hashed (functions.text.rolling_fingerprints),
    then only the MINIMUM hash of each sliding window of ``w`` consecutive
    positions is selected (Schleimer et al., "Winnowing: Local Algorithms
    for Document Fingerprinting") — the selected set is ~2/(w+1) of all
    spans but still guarantees any shared run of k+w-1 tokens contributes
    at least one COMMON selected fingerprint, which is what makes the
    containment join below recall-safe.  One shuffle (the per-doc window);
    min-over-window and md5 are identical in Spark and DuckDB, so the
    whole path is SQL-oracle-expressible.
    """
    from ..functions.text import rolling_fingerprints

    fps = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    ).select(
        id_col,
        F.posexplode(rolling_fingerprints("_ws", window=k)).alias(
            "pos", "fp"
        ),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        fps.select(F.col(id_col), F.min("fp").over(win).alias("fp"))
        .distinct()
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5, w: int = 4,
                      threshold: float = 0.5,
                      max_fp_df: int | None = 50) -> DataFrame:
    """Asymmetric near-duplication: containment(A in B) =
    |fp(A) ∩ fp(B)| / |fp(A)| over winnowed fingerprints — catches a
    document QUOTED or PARTIALLY copied inside a larger one, which
    symmetric Jaccard dilutes below any usable threshold.

    Returns ordered pairs (id_a, id_b, containment): id_a's selected
    fingerprints covered by id_b, both directions emitted independently
    when above ``threshold``.  Scale design mirrors ngram_jaccard_pairs:
    ``max_fp_df`` drops boilerplate fingerprints shared by more than that
    many docs BEFORE the self-join (the f^2 hot-key tail), via a
    broadcastable anti-join of the Zipf head; the winnowing itself already
    cut the join input ~2/(w+1)x.
    """
    sel = winnowed_fingerprints(df, text_col, id_col, k, w)
    if max_fp_df is not None:
        hot = (
            sel.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_fp_df)
            .select("fp")
        )
        sel = sel.join(hot, "fp", "left_anti")
    sel = _pin(sel)  # consumed by sizes + both self-join sides
    sizes = sel.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    a = sel.select(F.col(id_col).alias("id_a"), "fp")
    b = sel.select(F.col(id_col).alias("id_b"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ni"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .withColumn(
            "containment", F.round(F.col("ni") / F.col("n_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", portable: bool = True) -> DataFrame:
    """64-bit SimHash per document from word-level hashes.

    Bit b of the signature is the sign of sum over words of
    (+1 if bit b of the word digest else -1).  Pure column expressions,
    JVM-side.  Two hash families:

    - ``portable=True`` (default): bits come from the first 16 nibbles of
      md5(word) — bit b = nibble b//4, bit-in-nibble b%4 — which any SQL
      engine reproduces exactly (the DuckDB oracle does).
    - ``portable=False``: xxhash64(word), one hash call instead of md5 +
      16 nibble decodes; use for the 100 TB path where the exact hash
      family doesn't matter, only its uniformity.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    if portable:
        # nibble value of md5 hex char i (0-based): 0..15
        wh = words.select(
            id_col,
            *[
                (F.expr(
                    "instr('0123456789abcdef', substring(md5(w), %d, 1))"
                    % (i + 1)
                ) - 1).alias("n%d" % i)
                for i in range(16)
            ],
        )
        bit = lambda b: (  # noqa: E731
            F.shiftright(F.col("n%d" % (b // 4)), b % 4).bitwiseAND(F.lit(1))
        )
    else:
        wh = words.withColumn("h", F.xxhash64("w"))
        bit = lambda b: (  # noqa: E731
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
        )
    bit_sums = wh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(bit(b) == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias("b%d" % b)
            for b in range(64)
        ]
    )
    sig = None
    for b in range(64):
        # shiftleft instead of a 1<<63 literal (which overflows a JVM long)
        term = F.shiftleft(
            F.when(F.col("b%d" % b) > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
            b,
        )
        sig = term if sig is None else (sig.bitwiseOR(term))
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 3,
                       portable: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit chunks.

    EXACT for ``max_hamming <= 3``: two signatures within Hamming distance 3
    agree on at least one of the 4 16-bit chunks (pigeonhole) — the join key
    — so the blocked join finds every qualifying pair without the O(n^2)
    cross product.  Above 3 the blocking becomes a recall<1 approximation;
    raise the chunk count instead if exactness is needed.
    """
    if max_hamming > 3:
        raise ValueError(
            "4-chunk pigeonhole blocking is only exact for max_hamming <= 3"
        )
    sig = simhash64(df, text_col, id_col, portable=portable)
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftright(F.col("simhash"), c * 16)
                    .bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                )
                for c in range(4)
            ])
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk_id", "cc.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "chunk_id", "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "chunk_id", "chunk",
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(pairs: DataFrame, max_iterations: int = 25,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Duplicate-cluster resolution: candidate pairs -> (doc_id, cluster_id).

    ``cluster_id`` is the minimum doc id of the connected component, i.e.
    the canonical survivor; every doc appearing in any pair gets a row
    (the canonical doc maps to itself).  Consumes the output of
    minhash_lsh_pairs / simhash_near_pairs / embedding near-dups.

    Scale design: the alternating large-star/small-star algorithm (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — pure
    DataFrame joins/groupBys, converging in O(log^2 n) rounds even on
    path-shaped components (naive min-label propagation needs O(diameter)).
    Each round's edge set is checkpointed: iterative plans otherwise grow
    lineage exponentially and re-execute every prior round.  The default
    ``localCheckpoint`` stores blocks on executors with NO fault
    tolerance — a lost executor kills the job mid-iteration, which is fine
    on local[n] but not on a 1000-executor cluster; pass
    ``checkpoint_dir`` (a reliable path: HDFS/S3) to use true
    ``checkpoint()`` there, trading one write+read of the edge set per
    round for executor-loss survival.  The convergence probe is ONE
    aggregation job per round (edge count + order-independent xxhash64
    sum); a colliding non-equal edge set (2^-64) would stop one round
    early — acceptable for any dedup use, and the star-forest invariant
    below still yields valid labels because the final groupBy takes the
    minimum root per node.
    """
    # Lazy cuts: every round's _digest convergence probe is the first
    # consumer of the just-checkpointed edge set and materializes its
    # blocks, so an eager cut would only add a second blocking job per
    # round that repeats the same work.
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=False)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    e = _ckpt(
        pairs.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = _ckpt(
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    def _digest(edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            # decimal(38) accumulator: a plain long sum of xxhash64 values
            # overflows (ANSI mode raises on long overflow)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _digest(e)
    for _ in range(max_iterations):
        # large-star: every neighbor v > u links to m(u) = min(N(u) + {u})
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = both.groupBy("u").agg(F.min("v").alias("_mn"))
        m = m.select("u", F.least("u", F.col("_mn")).alias("m"))
        large = (
            both.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges are canonical (u < v); every big node v links
        # its small neighbors (and itself) to their minimum
        sm = large.groupBy("v").agg(F.min("u").alias("m"))
        ssj = large.join(sm, "v")
        new_e = (
            ssj.select(
                F.least("u", "m").alias("u"), F.greatest("u", "m").alias("v")
            )
            .union(
                ssj.select(
                    F.least("v", "m").alias("u"),
                    F.greatest("v", "m").alias("v"),
                )
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = _ckpt(new_e)
        cur = _digest(new_e)
        if cur == prev:
            e = new_e
            break
        prev = cur
        e = new_e
    else:
        raise RuntimeError(
            "connected_components did not converge in %d rounds"
            % max_iterations
        )
    # fixed point is a star forest rooted at each component minimum:
    # (u=min, v=member); the groupBy-min is belt-and-braces for the labels
    labels = e.groupBy(F.col("v").alias("doc_id")).agg(
        F.min("u").alias("_cl")
    )
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("_cl", F.col("doc_id")).alias("cluster_id")
    )


def dedup_survivors(df: DataFrame, clusters: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Filter a corpus to one canonical doc per duplicate cluster: drops
    every doc whose cluster_id names a different doc.  Docs absent from
    ``clusters`` (never in any candidate pair) are kept."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def line_dedup(df: DataFrame, id_col: str = "url", text_col: str = "text",
               min_df: int = 2, max_doc_frac: float = 0.30) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al. 2019 §4.1,
    the pass FineWeb/RefinedWeb run right after extraction): a line whose
    trimmed form appears in more than ``max_doc_frac`` of documents (and at
    least ``min_df`` of them) is boilerplate — nav bars, footers, cookie
    banners — and is dropped from every document; per-document line order
    is otherwise preserved.

    Returns (id, text, n_lines_kept, n_lines_dropped) with ``text``
    reassembled from the surviving lines.  A document whose every line is
    boilerplate yields no output row — it IS boilerplate.

    Scale shape (10^12 docs):
    - the document-frequency count runs on md5(trim(line)) so the shuffle
      key is fixed-width, with a map-side distinct-per-(doc,line) before
      the exchange (groupBy on the pair, then on the hash) — two
      aggregations but each with partial combine, never a raw
      (doc x line) distinct-shuffle of unbounded strings;
    - the boilerplate set is tiny by definition (df above a corpus-scale
      threshold is the Zipf head), so the removal anti-join broadcasts —
      no second shuffle of the exploded line stream by line;
    - reassembly is one shuffle keyed by doc id carrying the surviving
      lines (sort_array(collect_list(struct(pos, line))) — deterministic,
      no window);
    - the corpus doc count is a 1-row aggregate cross-joined in (the SQL
      oracle's scalar subquery twin).
    """
    df = _pin(df.select(id_col, text_col))  # consumed by 4 branches:
    # without the pin each branch re-runs the whole upstream lineage
    # (for the post-extraction use that is the cascade itself, 4x)
    # second pin: the LINE stream itself has 3 consumers (the df count,
    # the keep anti-join, the dropped semi-join) — pinning it saves two
    # further split/posexplode/md5 passes over every document
    lines = _pin(
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "line"),
        ).withColumn("line_key", F.md5(F.trim(F.col("line"))))
    )

    n_docs = df.select(
        F.count("*").cast("double").alias("_n_docs")
    )
    line_df = (
        lines.groupBy("_id", "line_key")
        .agg(F.lit(1).alias("_one"))
        .groupBy("line_key")
        .agg(F.count("*").alias("_df"))
    )
    boiler = (
        line_df.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("_df") >= min_df)
            & (F.col("_df") >= F.col("_n_docs") * max_doc_frac)
        )
        .select("line_key")
    )
    kept = lines.join(F.broadcast(boiler), "line_key", "left_anti")
    dropped_per_doc = (
        lines.join(F.broadcast(boiler), "line_key", "left_semi")
        .groupBy("_id")
        .agg(F.count("*").alias("n_lines_dropped"))
    )
    out = (
        kept.groupBy("_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "line"))
            ).alias("_pl"),
            F.count("*").alias("n_lines_kept"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.concat_ws(
                "\n", F.transform("_pl", lambda s: s["line"])
            ).alias(text_col),
            "n_lines_kept",
        )
    )
    return (
        out.join(dropped_per_doc.withColumnRenamed("_id", id_col),
                 id_col, "left")
        .withColumn(
            "n_lines_dropped", F.coalesce("n_lines_dropped", F.lit(0))
        )
    )


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 8) -> DataFrame:
    """Benchmark decontamination (GPT-3 appx C / The Pile §6.3 style): flag
    every training document sharing at least one k-word shingle with the
    evaluation corpus, so it can be dropped before training.

    Returns (id, contaminated) for every input doc.

    Scale shape (10^12 train docs vs a few-thousand-doc eval set):
    - eval shingles hash to fixed-width md5 keys and the set is SMALL (a
      benchmark suite is megabytes), so it broadcasts: the train-side
      shingle stream is probed map-side — ZERO shuffle of the big table;
    - only matched ids survive to the distinct (tiny), and the verdict
      join back to ids is id-keyed on that tiny set;
    - k is the standard 8-13: long enough that natural text rarely
      collides, short enough to catch paraphrase-free copying.
    """
    ev = (
        shingles(eval_df, text_col=text_col, id_col=id_col, k=k)
        .select(F.md5("shingle").alias("skey"))
        .distinct()
    )
    doc_sh = shingles(df, text_col=text_col, id_col=id_col, k=k).select(
        F.col(id_col), F.md5("shingle").alias("skey")
    )
    hit = (
        doc_sh.join(F.broadcast(ev), "skey", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(F.broadcast(hit), id_col, "left")
        .withColumn(
            "contaminated", F.coalesce("contaminated", F.lit(False))
        )
    )


def remove_repeated_spans(df: DataFrame, k: int = 8, min_count: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """EXACT repeated-substring removal (the ExactSubstr dedup of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"),
    at token granularity: delete every token covered by a k-token span
    whose text occurs >= ``min_count`` times in the corpus (across OR
    within documents).  A maximal repeated substring of length >= k is
    exactly the union of its repeated k-grams, so k-gram coverage removes
    precisely the tokens ExactSubstr would — no suffix array needed; the
    suffix array is an implementation device for single machines, not part
    of the semantics.

    Plan (3 shuffles total, each partially combined):
      1. k-gram stream: posexplode of md5'd token windows — map-side.
      2. occurrence count per gram  -> repeated-gram set (shuffle 1).
      3. semi-join gram stream vs repeated set (shuffle 2, AQE may
         broadcast the repeated side), collect start offsets per doc
         (fused into the same shuffle's aggregation).
      4. join offsets back to documents (shuffle 3) and cut tokens with
         a per-document numpy difference-array sweep — O(n_tokens +
         n_spans) per doc, never the O(n_tokens * n_spans) interpreted
         EXISTS-per-token loop.

    Returns (id, clean_text, n_removed).  Docs shorter than k tokens pass
    through unchanged.
    """
    import numpy as np

    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    # filter BEFORE the projection: sequence(0, n-k) must never see n < k
    # (Spark would emit a DESCENDING sequence for a negative end).
    # The gram stream feeds BOTH the occurrence count and the semi-join
    # probe side — pin it so the (interpreted-HOF) gram construction runs
    # once, not once per consumer (measured 3x on the sf0.1 corpus).
    grams = df.filter(n >= k).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(ws, i + 1, k))
                ),
            )
        ).alias("s", "g"),
    ).localCheckpoint(eager=False)
    repeated = (
        grams.groupBy("g")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("g")
    )
    starts = (
        grams.join(repeated, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("s")).alias("_starts"))
    )
    withs = df.select(id_col, text_col).join(starts, id_col, "left")

    def cut(text, st):
        if not st:
            return text, 0
        toks = text.split(" ")
        cover = np.zeros(len(toks) + 1, dtype=np.int32)
        for s in st:
            cover[s] += 1
            cover[min(s + k, len(toks))] -= 1
        covered = np.cumsum(cover[:-1]) > 0
        kept = [t for t, c in zip(toks, covered) if not c]
        return " ".join(kept), int(covered.sum())

    return doc_map(withs, cut, [text_col, "_starts"],
                   "clean_text string, n_removed int", carry=[id_col])


def paragraph_minhash_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            para_sep: str = "\n", k: int = 3,
                            bands: int = 4, rows_per_band: int = 2,
                            max_bucket_size: int | None = None
                            ) -> DataFrame:
    """Sub-document near-dup candidates: MinHash+LSH at PARAGRAPH
    granularity (the FineWeb/RefinedWeb refinement over doc-level
    MinHash — syndicated boilerplate and copied sections hide inside
    otherwise-unique documents).

    Each document splits on ``para_sep`` into (pos, paragraph) units;
    paragraphs with < k words yield no shingles and drop out (matching
    :func:`shingles`).  Returns (id_a, pos_a, id_b, pos_b) — cross- AND
    intra-document pairs — canonically ordered by the composite string
    key ``id:pos`` (id_a:pos_a < id_b:pos_b), both engines compare the
    same strings.  Ids must not contain ':' (true for numeric ids).

    Scale shape: identical to :func:`minhash_lsh_pairs` — the paragraph
    explosion multiplies ROWS by paras/doc but total shingle volume is
    ~unchanged (every word still contributes ~1 shingle), so the two
    shuffles carry the same bytes as doc-level.  The new hazard is hot
    boilerplate paragraphs ("click here to subscribe") forming
    near-cartesian LSH buckets: cap them with ``max_bucket_size``
    exactly as at doc level, and/or run :func:`line_dedup` first — CCNet
    line removal deletes the Zipf head before it can bucket.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), para_sep))
        .alias("_pos", "_para"),
    ).select(
        F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            F.col("_pos").cast("string"),
        ).alias("_pid"),
        "_para",
    )
    pairs = minhash_lsh_pairs(
        paras, text_col="_para", id_col="_pid", k=k, bands=bands,
        rows_per_band=rows_per_band, max_bucket_size=max_bucket_size,
    )
    id_type = df.schema[id_col].dataType.simpleString()
    sa, sb = F.split(F.col("id_a"), ":"), F.split(F.col("id_b"), ":")
    return pairs.select(
        sa.getItem(0).cast(id_type).alias("id_a"),
        sa.getItem(1).cast("int").alias("pos_a"),
        sb.getItem(0).cast(id_type).alias("id_b"),
        sb.getItem(1).cast("int").alias("pos_b"),
    )


def host_line_dedup(df: DataFrame, id_col: str = "url",
                    text_col: str = "text", host_col: str | None = None,
                    min_df: int = 2,
                    max_page_frac: float = 0.5) -> DataFrame:
    """Intra-host boilerplate removal — the per-site complement of the
    corpus-global :func:`line_dedup` (CCNet) pass: a line appearing on at
    least ``max_page_frac`` of a HOST's pages (and on >= ``min_df`` of
    them) is that site's template — nav bar, footer, cookie banner — and
    is stripped from every page of the host, while the same line on a
    different host is untouched.  This is the trafilatura/jusText
    "site-level template" signal expressed relationally.

    Returns (id, host, text, n_lines_kept, n_lines_dropped); a page whose
    every line is template yields no row.  ``host_col`` names an existing
    host column; when None the host is derived from the url
    (functions.url.url_host).

    Scale shape (10^12 pages):
    - unlike the global pass, the template set is per-host and therefore
      NOT broadcastable (it grows with host count); but every bulk
      shuffle keys on (host, line_key) — the template-set join, the
      removal anti-join, the drop-count semi-join — so a mega-host's
      lines still spread across ALL partitions by line;
    - the only host-keyed exchange is the per-host page count (map-side
      combined counts, one row per host) and its join onto the per-
      (host, line) DF table; that join's build side is one row per host
      — AQE's skew split covers the Zipf-head host there;
    - reassembly is one shuffle keyed by page id (sort_array over
      collect_list — deterministic, no window over hosts).
    """
    from htmlcleanup_spark.functions.url import url_host

    host = F.col(host_col) if host_col else url_host(id_col)
    base = _pin(df.select(
        F.col(id_col), host.alias("_host"), F.col(text_col)
    ))  # consumed by the page count and (via lines) three more branches

    # line-stream pin: three consumers (df count, keep anti-join, drop
    # semi-join) would otherwise re-split and re-hash every page's lines
    lines = _pin(
        base.select(
            F.col(id_col).alias("_id"), "_host",
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "line"),
        ).withColumn("line_key", F.md5(F.trim(F.col("line"))))
    )

    host_pages = base.groupBy("_host").agg(
        F.count("*").cast("double").alias("_n_pages")
    )
    line_df = (
        lines.groupBy("_id", "_host", "line_key")
        .agg(F.lit(1).alias("_one"))
        .groupBy("_host", "line_key")
        .agg(F.count("*").alias("_df"))
    )
    template = (
        line_df.join(host_pages, "_host")
        .filter(
            (F.col("_df") >= min_df)
            & (F.col("_df") >= F.col("_n_pages") * max_page_frac)
        )
        .select("_host", "line_key")
    )
    kept = lines.join(template, ["_host", "line_key"], "left_anti")
    dropped = (
        lines.join(template, ["_host", "line_key"], "left_semi")
        .groupBy("_id")
        .agg(F.count("*").alias("n_lines_dropped"))
    )
    out = (
        kept.groupBy("_id")
        .agg(
            F.any_value(F.col("_host")).alias("host"),
            F.sort_array(
                F.collect_list(F.struct("pos", "line"))
            ).alias("_pl"),
            F.count("*").alias("n_lines_kept"),
        )
        .select(
            F.col("_id").alias(id_col), "host",
            F.concat_ws(
                "\n", F.transform("_pl", lambda s: s["line"])
            ).alias(text_col),
            "n_lines_kept",
        )
    )
    return (
        out.join(dropped.withColumnRenamed("_id", id_col), id_col, "left")
        .withColumn(
            "n_lines_dropped", F.coalesce("n_lines_dropped", F.lit(0))
        )
    )


def soft_dedup_weights(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Soft deduplication: instead of DROPPING exact duplicates, weight
    every copy by 1/n_copies so the duplicated content contributes one
    document's worth of gradient in expectation (the reweight-not-remove
    alternative discussed alongside SlimPajama-style hard dedup —
    preserves rare in-cluster variation that hard dedup's single
    survivor loses).  Emits every row with (digest, n_copies,
    weight_e6 = floor(1e6 / n_copies)) — integer-quantized so any
    downstream sum of weights is engine-portable.

    Scale: one md5-digest map-combined count (the dedup_exact shuffle)
    + one digest-keyed equi join back.  Both sides co-partition on the
    digest; a mega-cluster (one viral page duplicated 10^9 times) is a
    skewed JOIN key, which AQE's skew-join split handles (unlike a
    window partition, which nothing can split — the reason this is a
    join, not a count() window)."""
    digest = F.md5(F.col(text_col)).alias("digest")
    docs = df.select(F.col(id_col), digest)
    counts = docs.groupBy("digest").agg(
        F.count("*").cast("long").alias("n_copies")
    )
    return docs.join(counts, "digest").select(
        id_col, "digest", "n_copies",
        F.floor(1e6 / F.col("n_copies").cast("double"))
        .cast("long").alias("weight_e6"),
    )


def contamination_report(df: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 8) -> DataFrame:
    """Graded contamination accounting — the threshold-setting twin of
    :func:`decontaminate` (The Pile drops on OVERLAP FRACTION, not
    any-hit; you can't pick the threshold without this distribution).
    Per train doc: distinct k-shingle count, how many of those appear
    in the eval corpus, and the e6-floored overlap fraction.  Docs too
    short to shingle keep a zeroed row.

    Same scale shape as decontaminate: the eval shingle set broadcasts,
    the train shingle stream is probed map-side (broadcast LEFT join —
    zero shuffle of the big table), and the only exchange is the
    id-keyed map-combined rollup."""
    ev = (
        shingles(eval_df, text_col=text_col, id_col=id_col, k=k)
        .select(F.md5("shingle").alias("skey"))
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    doc_sh = shingles(df, text_col=text_col, id_col=id_col, k=k).select(
        F.col(id_col), F.md5("shingle").alias("skey")
    )
    per = (
        doc_sh.join(F.broadcast(ev), "skey", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
            .alias("n_hit"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn(
            "overlap_e6",
            F.floor(
                1e6 * F.col("n_hit").cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double")
            ).cast("long"),
        )
    )


def dedup_survivors_by_quality(df: DataFrame, clusters: DataFrame,
                               id_col: str = "doc_id",
                               quality_col: str = "quality_e6"
                               ) -> DataFrame:
    """Cluster canonicalization that keeps the BEST member of each
    duplicate cluster instead of the smallest id: within a cluster the
    survivor is the doc with the highest ``quality_col`` (ties -> the
    smallest id, so the choice is total and deterministic).  Docs
    absent from ``clusters`` are kept, like :func:`dedup_survivors`.
    This is the production dedup discipline (FineWeb, Dolma): among
    syndicated copies, keep the cleanest extraction, not an arbitrary
    one.  ``id_col`` must be numeric (the tie-break negates it).

    Scale shape (10^12 docs): ``clusters`` holds only docs that ever
    appeared in a candidate pair — a small fraction of the corpus.
    Winner selection is ONE cluster-keyed map-combined ``max(struct
    (quality, -id))`` aggregate (associative, no window over cluster
    members), the winner lookup is a cluster-keyed equi-join within
    the same small table, and the final removal is an id-keyed
    anti-join (broadcast when the loser set fits, co-partitioned
    otherwise — Catalyst/AQE's call).  The big table shuffles at most
    once, on its id."""
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(quality_col).alias("_q")),
        "doc_id",
    )
    best = members.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("_q").alias("q"),
                     (-F.col("doc_id")).alias("neg_id"))
        ).alias("_b")
    )
    winners = best.select(
        "cluster_id", (-F.col("_b.neg_id")).alias("_win")
    )
    losers = (
        clusters.join(winners, "cluster_id")
        .filter(F.col("doc_id") != F.col("_win"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def lsh_recall_report(df: DataFrame, planted: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, n_bins: int = 5) -> DataFrame:
    """Measured MinHash+LSH recall against PLANTED ground-truth pairs,
    bucketed by exact n-gram Jaccard — the dedup analogue of
    ann_recall_report: before trusting a (bands, rows) operating point
    on a new corpus, plant known near-duplicates at varied mutation
    rates and read the detection rate off each similarity band (the
    empirical S-curve, vs the analytic 1-(1-J^r)^b).

    ``planted`` is (id_a, id_b) with id_a < id_b; both ids must exist
    in ``df``.  Returns one row per Jaccard band:
    (jband, n_pairs, n_detected, recall_e6), where jband =
    min(floor(n_bins * J), n_bins - 1) computed from EXACT integer
    shingle counts (intersection / union), so banding is bit-stable in
    any engine.  Pairs where either side has < k words carry no
    defined Jaccard and are excluded (inner join on shingle sizes).

    Recall only — organic (unplanted) near-duplicates in ``df`` make
    false positives ill-defined without full labeling, so detected
    pairs outside ``planted`` are ignored.

    Scale shape: the planted set is small by construction (an eval
    artifact), so both per-side prunes are broadcast semi-joins; the
    shingle intersection runs only over planted docs' shingles with
    the pair filter BEFORE the aggregate (the ngram_jaccard_pairs
    candidate discipline); LSH detection is the production
    minhash_lsh_pairs plan itself; the final report is one
    n_bins-row aggregate."""
    # pin: the sizes aggregate and BOTH per-side prunes read the shingle
    # stream — without the pin the split/explode construction runs three
    # times (the repo-wide multi-consumer rule)
    sh = _pin(shingles(df, text_col, id_col, k))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_ns"))
    pl = _pin(planted.select("id_a", "id_b"))
    sha = sh.select(F.col(id_col).alias("id_a"), "shingle").join(
        F.broadcast(pl.select("id_a").distinct()), "id_a", "left_semi"
    )
    shb = sh.select(F.col(id_col).alias("id_b"), "shingle").join(
        F.broadcast(pl.select("id_b").distinct()), "id_b", "left_semi"
    )
    inter = (
        sha.join(shb, "shingle")
        .join(F.broadcast(pl), ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_ni"))
    )
    detected = minhash_lsh_pairs(df, text_col, id_col, k=k).select(
        "id_a", "id_b"
    ).withColumn("_hit", F.lit(1))
    na = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("_ns").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("_ns").alias("_nb"))
    pairs = (
        pl.join(na, "id_a").join(nb, "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .join(detected, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b",
            F.coalesce("_ni", F.lit(0)).alias("_ni"),
            (F.col("_na") + F.col("_nb")
             - F.coalesce("_ni", F.lit(0))).alias("_nu"),
            F.coalesce("_hit", F.lit(0)).alias("_hit"),
        )
    )
    jband = F.least(
        F.floor(
            F.lit(float(n_bins)) * F.col("_ni").cast("double")
            / F.col("_nu").cast("double")
        ),
        F.lit(n_bins - 1),
    ).cast("long")
    return (
        pairs.select(jband.alias("jband"), "_hit")
        .groupBy("jband")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("_hit").cast("long").alias("n_detected"),
            F.floor(
                1e6 * F.sum("_hit").cast("double")
                / F.count("*").cast("double")
            ).cast("long").alias("recall_e6"),
        )
    )


def dedup_report(df: DataFrame, clusters: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Duplicate-cluster size histogram — the dedup datasheet number and
    the scale diagnostic that sizes everything downstream: the largest
    cluster bounds connected-components iteration count and the survivor
    anti-join's hottest key, and sum(n_docs) - sum(n_clusters) IS the
    corpus duplicate count.  (FineWeb / Dolma report exactly this
    distribution when tuning MinHash banding.)

    Input: the corpus and a ``connected_components`` output
    (doc_id, cluster_id).  Docs absent from ``clusters`` (never in any
    candidate pair) are the singleton bucket, synthesized from the two
    counts so the histogram reconciles: sum(n_docs) == corpus rows.

    Returns (cluster_size, n_clusters, n_docs), all longs.

    Scale shape (10^12 docs):
    - one map-combined count keyed by cluster_id (the only big shuffle;
      cluster ids are near-uniform — the histogram is the tool that
      PROVES it, after the LSH hot-bucket cap has bounded pair degree);
    - the histogram groupBy runs on ≤ max-cluster-size distinct keys —
      a few hundred rows, trivially combined;
    - the singleton bucket is two 1-row aggregates (corpus count,
      clustered-doc count) joined driver-free via a broadcast cross
      join — no collect.
    """
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    n_total = df.select(F.count("*").alias("_nt"))
    n_clustered = clusters.select(F.count("*").alias("_nc"))
    singleton = (
        n_total.crossJoin(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("_nt") - F.col("_nc")).alias("n_clusters"),
            (F.col("_nt") - F.col("_nc")).alias("n_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.select("cluster_size", "n_clusters", "n_docs").unionAll(
        singleton
    )
