"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Scoring and bucket assignment are numpy matmuls, one per Arrow slice,
  through the package's one Python boundary (``functions/udf.batch_map``:
  whole columns in, column arrays out, no per-row conversion);
  interpreted zip_with/aggregate lambdas are 10-50x slower.
- ``lsh_cosine_topk``: the scale path — random-hyperplane LSH buckets the
  corpus so each query scores only its bucket (probing all single-bit
  neighbors too).  Hyperplanes are a deterministic function of (seed, dim):
  no external state, reproducible across runs/executors — which also makes
  every LSH path SQL-oracle-expressible (the planes embed as literals).

Scale notes: brute force is a broadcast of Q query vectors against N corpus
rows — fine for small Q at any N (one pass, no shuffle beyond the final
top-k). LSH reduces the scored fraction to ~2^-bits per probe; at 10^12 rows
you'd also partition the corpus table by bucket so a query prunes scans.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.udf import batch_map, vectors


def _local_topk_frame(ids, S, qids, k: int, slack: float,
                      score_name: str = "_raw"):
    """Partition-local top-k cut over a dense [n, Q] score block.

    Masks self-matches to -inf, finds the k-th best raw score per query,
    and keeps only rows within ``slack`` below it — the bounded candidate
    set whose final round + (score desc, id asc) window provably selects
    the identical rows the full cross product would (see cosine_topk's
    docstring for the slack argument).  Returns the columns (query_id,
    neighbor_id, score_name) of the finite scores.
    """
    S = S.copy()
    S[ids[:, None] == qids[None, :]] = -np.inf
    keep_n = min(k, S.shape[0])
    kth = -np.partition(-S, keep_n - 1, axis=0)[keep_n - 1, :]
    mask = S >= (kth - slack)[None, :]
    rows, cols = np.nonzero(mask)
    score = S[rows, cols]
    fin = np.isfinite(score)
    return {"query_id": qids[cols][fin], "neighbor_id": ids[rows][fin],
            score_name: score[fin]}


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int = 4, max_queries: int = 65536) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    queries: DataFrame with (query_id, query_vec).  Returns
    (query_id, neighbor_id, cosine, rank); cosine rounded so a SQL oracle
    reproduces values despite float summation order.  Id columns keep
    their input types (int, long, string, ... — the output schema is
    derived from the inputs, nothing is narrowed to long).

    Scale design: the query matrix rides in the map's closure (one copy per
    executor, the broadcast-dim-table pattern).  More than ``max_queries``
    queries are processed in chunks — one corpus pass per chunk, results
    unioned — so memory per executor stays bounded at ~max_queries * dim
    doubles with exactness preserved at any Q.  Each corpus partition
    computes ONE [batch, Q] matmul and keeps only its LOCAL
    top-k-per-query candidates, so the shuffle carries ~partitions * Q * k
    rows instead of the N * Q scored cross product (the previous crossJoin
    plan moved every (query, corpus) pair through Arrow).  The local cut
    keeps a 1.5/10^round_to raw-score slack below the k-th best so the
    final Spark-side round + (cosine desc, id asc) window provably selects
    the identical rows the full cross product would.
    """
    qrows = queries.select("query_id", "query_vec").collect()
    qid_type = queries.schema["query_id"].dataType.simpleString()
    nid_type = embeddings.schema[id_col].dataType.simpleString()
    scored_ddl = "query_id %s, neighbor_id %s, _raw double" % (
        qid_type, nid_type,
    )
    slack = 1.5 / (10 ** round_to)

    corpus = embeddings.select(id_col, vec_col)
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], scored_ddl + ", cosine double, rank int"
        ).select("query_id", "neighbor_id", "cosine", "rank")
    scored = None
    for lo in range(0, len(qrows), max_queries):
        chunk = qrows[lo : lo + max_queries]
        # numpy object dtype keeps string/decimal ids comparable; numeric
        # ids stay numeric for the vectorized self-match mask either way
        qids = np.array([r.query_id for r in chunk])
        Qm = np.stack(
            [np.asarray(r.query_vec, dtype=np.float64) for r in chunk]
        )
        Qn = Qm / (np.linalg.norm(Qm, axis=1, keepdims=True) + 1e-300)

        def score_partition(b, qids=qids, Qn=Qn):
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            V = vectors(b.column(vec_col))
            Vn = V / (np.linalg.norm(V, axis=1, keepdims=True) + 1e-300)
            S = Vn @ Qn.T                              # [n, Q] raw cosines
            yield _local_topk_frame(ids, S, qids, k, slack)

        part = batch_map(corpus, score_partition, scored_ddl)
        scored = part if scored is None else scored.unionByName(part)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "neighbor_id",
            F.round(F.col("_raw"), round_to).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes from md5(seed, bit, j)."""
    planes = []
    for b in range(bits):
        row = []
        for j in range(dim):
            h = hashlib.md5(
                ("%d:%d:%d" % (seed, b, j)).encode()
            ).digest()
            v = int.from_bytes(h[:8], "big", signed=True)
            row.append(v / float(1 << 63))  # [-1, 1)
        planes.append(row)
    return planes


def plane_matrix(dim: int, bits: int = 8, seed: int = 42,
                 n_tables: int = 1):
    """The [n_tables * bits, dim] hyperplane matrix as float64 numpy
    (shared by the bucket map and the SQL-oracle literal generator); table t
    owns rows t*bits .. (t+1)*bits - 1."""
    return np.array(_hyperplanes(dim, bits * n_tables, seed),
                    dtype=np.float64)


def _with_buckets(df: DataFrame, vec: str, dim: int, bits: int = 8,
                  seed: int = 42, n_tables: int = 1) -> DataFrame:
    """``df`` plus ``_buckets``, its hyperplane signatures for all tables:
    ONE numpy matmul per Arrow slice (a :func:`batch_map` stage carrying
    every column of ``df``) giving array<int> of length n_tables (bit b of
    table t = sign of vec . plane_{t*bits+b}).

    This replaces the per-row interpreted zip_with/aggregate expression
    (bits x dim interpreted lambda evaluations per row, 10-50x slower).
    The [n_tables*bits, dim] matrix rides in the map's closure — one copy
    per executor."""
    P = plane_matrix(dim, bits, seed, n_tables)
    weights = (1 << np.arange(bits)).astype(np.int64)

    def buckets(b):
        va = vectors(b.column(vec))
        signs = (va @ P.T) >= 0.0                # [n, n_tables*bits]
        sig = signs.reshape(len(va), n_tables, bits) @ weights
        yield {"_buckets": list(sig.astype("int32"))}

    return batch_map(df, buckets, "_buckets array<int>", carry=df.columns)


def _explode_tables(df: DataFrame, bucket_arr="_buckets",
                    probe_bits: int = 0):
    """(table, bucket) rows from the per-table signature array; with
    ``probe_bits`` > 0 each row also probes every single-bit flip of its
    bucket (multi-probe: pairs within Hamming distance 1 per table meet)."""
    df = df.select(
        "*", F.posexplode(bucket_arr).alias("table", "_b")
    ).drop(bucket_arr)
    if probe_bits:
        probes = F.array(
            F.col("_b"),
            *[F.col("_b").bitwiseXOR(F.lit(1 << b)) for b in range(probe_bits)]
        )
        df = df.select("*", F.explode(probes).alias("bucket")).drop("_b")
    else:
        df = df.withColumnRenamed("_b", "bucket")
    return df


def lsh_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64, bits: int = 8, seed: int = 42,
                    n_tables: int = 4, round_to: int = 4) -> DataFrame:
    """Approximate top-k over ``n_tables`` independent hyperplane tables:
    a corpus row is scored for a query when, in ANY table, their buckets
    are within Hamming distance 1 (bucket match or single-bit multi-probe).

    Recall dials (OR-amplification): for a pair with bit-agreement prob p
    per plane, hit prob = 1 - (1 - P1)^n_tables with P1 = p^bits +
    bits*p^(bits-1)*(1-p).  At cosine 0.95 (p~0.90, bits=8, 4 tables)
    that is ~0.999; on UNIFORM random data recall degrades toward the
    scanned fraction (the worst case, as for IVF) — see tests/test_ann.py
    for both measured regimes.  Cost: candidates are deduplicated per
    (query, neighbor) BEFORE scoring, so each survivor is scored once.
    """
    corp = _explode_tables(_with_buckets(
        embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("_v")),
        "_v", dim, bits, seed, n_tables,
    ))
    q = _explode_tables(
        _with_buckets(queries.select("query_id", "query_vec"), "query_vec",
                      dim, bits, seed, n_tables),
        probe_bits=bits,
    )
    cands = (
        q.join(corp, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # dedupe BEFORE the scoring map: a pair meeting in several
        # tables/probes is scored exactly once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = _pair_scored_cut(
        cands, k, 1.5 / (10 ** round_to),
        queries.schema["query_id"].dataType.simpleString(),
        embeddings.schema[id_col].dataType.simpleString(),
    )
    return _rank_scored(scored, k, round_to, score_col="cosine",
                        in_col="_raw")


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = 64, bits: int = 8,
                             seed: int = 42, n_tables: int = 4,
                             multi_probe: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH blocking.

    A pair is compared when its buckets agree within Hamming distance
    <= 1 in ANY of the ``n_tables`` tables (side A probes the single-bit
    flips when ``multi_probe``).  Recall follows the OR-amplification
    formula in lsh_cosine_topk's docstring: ~0.999 for true near-dups
    (cosine >= 0.95) at the defaults; tune ``bits`` up at larger corpora to
    keep the candidate fraction (~ n_tables * (bits+1) / 2^bits of all
    pairs) down.  The recall floor on planted near-dups is asserted in
    tests/test_ann.py.

    Candidates are scored by :func:`_pair_threshold_cut`, as in
    :func:`semdedup`: only pairs within the rounding slack of
    ``threshold`` leave the scoring map, and the rounded comparison stays
    in Spark.  A zero vector's cosine is NaN (0/0) and never a near-dup;
    the DuckDB oracle agrees (0/0 is NULL there)."""
    withb = _with_buckets(embeddings.select(id_col, vec_col), vec_col,
                          dim, bits, seed, n_tables)
    a = _explode_tables(
        withb.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"), "_buckets",
        ),
        probe_bits=bits if multi_probe else 0,
    )
    b = _explode_tables(
        withb.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"),
            "_buckets",
        )
    )
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        # score each candidate pair once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    id_t = embeddings.schema[id_col].dataType.simpleString()
    scored = _pair_threshold_cut(cands, threshold - 1.5e-4, id_t, id_t)
    return (
        scored.select(
            F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"),
            F.round(F.col("_raw"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF-flat: coarse quantizer -> inverted lists -> probe top lists
# ---------------------------------------------------------------------------

def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic coarse quantizer: the n_centroids corpus vectors with
    the smallest md5(cast(id as string)) — a seedless uniform sample,
    reproducible across runs and executors, and portable: any SQL engine
    reproduces the same sample (md5 is the repo-wide portable-hash
    convention, operators/dedup.py), which is what lets the whole IVF path
    be checked against a DuckDB oracle.  Centroid index = rank in md5
    order.  Returns a unit-normalized numpy [C, dim].

    At 10^12 rows you'd train this with MLlib KMeans (kmeans||) on a
    sample instead; everything downstream is unchanged — the quantizer is
    just a [C, dim] matrix.
    """
    import numpy as np

    rows = (
        embeddings.select(
            F.col(vec_col).alias("_v"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    c = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
    return c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12)


def ivf_centroids_kmeans(embeddings: DataFrame, n_centroids: int = 16,
                         vec_col: str = "embedding", seed: int = 42,
                         sample_fraction: float | None = None,
                         max_iter: int = 20):
    """Trained coarse quantizer: MLlib KMeans (kmeans||) over L2-normalized
    vectors — the quality upgrade over the md5-sample quantizer for skewed
    real-world embedding distributions (sampled centroids land where the
    data is dense; trained ones spread to balance the inverted lists).

    ``sample_fraction`` bounds training cost at corpus scale (fit on a
    sample, assign everything); deterministic for a fixed seed + input.
    The md5-sample quantizer (:func:`ivf_centroids`) remains the
    SQL-oracle-expressible path; everything downstream of either is the
    same [C, dim] matrix.  Returns unit-normalized numpy [C, dim].
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_raw")
    )
    if sample_fraction is not None:
        vecs = vecs.sample(fraction=sample_fraction, seed=seed)
    vecs = Normalizer(inputCol="_raw", outputCol="features", p=2.0).transform(
        vecs
    ).select("features")
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(vecs)
    c = np.stack([np.asarray(v) for v in model.clusterCenters()])
    return c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12)


def _quantizer(embeddings: DataFrame, quantizer: str, n_centroids: int,
               id_col: str, vec_col: str):
    if quantizer == "kmeans":
        return ivf_centroids_kmeans(embeddings, n_centroids, vec_col)
    if quantizer == "sample":
        return ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    raise ValueError("quantizer must be 'sample' or 'kmeans', got %r"
                     % (quantizer,))


def _assign(df: DataFrame, vec: str, centroids, out: str, carry,
            nprobe: int | None = None) -> DataFrame:
    """``carry`` + ``out``: each row's nearest centroid id (by cosine) as
    ``out int``, or with ``nprobe`` its ``nprobe`` nearest as ``out
    array<int>`` — a :func:`batch_map` stage, one matmul per Arrow
    slice.  The [C, dim] matrix rides in the map's closure — one copy per
    executor (for large C use an explicit broadcast)."""

    def assign(b):
        va = vectors(b.column(vec))
        va = va / (np.linalg.norm(va, axis=1, keepdims=True) + 1e-12)
        sims = va @ centroids.T
        # stable sort: similarity ties break toward the LOWER centroid id,
        # matching the SQL oracle's ORDER BY sim DESC, cid ASC
        top = np.argsort(-sims, axis=1, kind="stable")
        yield {out: top[:, 0] if nprobe is None
               else list(top[:, :nprobe].astype("int32"))}

    ddl = "%s %s" % (out, "int" if nprobe is None else "array<int>")
    return batch_map(df, assign, ddl, carry)


def _ivf_candidates(embeddings: DataFrame, queries: DataFrame, centroids,
                    nprobe: int, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(query_id, query_vec, ..., neighbor_id, _v) pairs that meet in a
    probed list: each corpus vector sits in its nearest list, each query
    probes its ``nprobe`` nearest; self-matches are dropped."""
    corp = _assign(
        embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("_v")),
        "_v", centroids, "list_id", ["neighbor_id", "_v"],
    )
    q = _assign(queries, "query_vec", centroids, "_lists", queries.columns,
                nprobe)
    q = q.select("*", F.explode("_lists").alias("list_id")).drop("_lists")
    return q.join(corp, "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                    n_centroids: int = 16, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_to: int = 4,
                    quantizer: str = "sample") -> DataFrame:
    """Approximate top-k via IVF-flat: each corpus vector lands in exactly
    one inverted list (nearest centroid); a query scores only the vectors
    in its ``nprobe`` nearest lists.

    Scanned fraction ~ nprobe / n_centroids.  ``quantizer``: "sample"
    (md5-keyed corpus sample — deterministic AND SQL-oracle-expressible)
    or "kmeans" (MLlib-trained — better list balance on skewed real
    distributions).  At corpus scale, write the embedding table
    partitioned by ``list_id`` so the probe join prunes file scans
    instead of filtering rows.
    """
    cents = _quantizer(embeddings, quantizer, n_centroids, id_col, vec_col)
    cands = _ivf_candidates(embeddings, queries, cents, nprobe, id_col,
                            vec_col)
    scored = _pair_scored_cut(
        cands, k, 1.5 / (10 ** round_to),
        queries.schema["query_id"].dataType.simpleString(),
        embeddings.schema[id_col].dataType.simpleString(),
    )
    return _rank_scored(scored, k, round_to, score_col="cosine",
                        in_col="_raw")


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_codebooks(embeddings: DataFrame, m: int = 8, n_codes: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic PQ codebooks: split the (L2-normalized) vector into
    ``m`` contiguous subspaces; subspace j's codebook is the j-th
    subvector of the ``n_codes`` corpus rows with smallest
    md5(cast(id as string)) — the same seedless portable sample as
    :func:`ivf_centroids`, so the whole PQ path is SQL-oracle-expressible
    (codebooks embed as literals).  Returns numpy [m, n_codes, dim/m].

    At 10^12 rows you'd train per-subspace KMeans on a sample instead
    (same upgrade path as ivf_centroids_kmeans); everything downstream is
    unchanged — a codebook is just a [m, C, d/m] array.
    """
    rows = (
        embeddings.select(
            F.col(vec_col).alias("_v"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_codes)
        .collect()
    )
    V = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
    V = V / (np.linalg.norm(V, axis=1, keepdims=True) + 1e-12)
    dim = V.shape[1]
    if dim % m:
        raise ValueError("dim %d not divisible by m=%d" % (dim, m))
    d_sub = dim // m
    return np.stack(
        [V[:, j * d_sub:(j + 1) * d_sub] for j in range(m)]
    )  # [m, n_codes, d_sub]


def pq_encode(embeddings: DataFrame, codebooks,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>): per subspace, the codeword minimizing the
    L2 distance to the row's (normalized) subvector, ties to the LOWER
    codeword id — one batched numpy pass per Arrow batch; the codebook
    rides in the closure (one copy per executor).

    This is the 64x memory compression that lets 10^12 embeddings sit in
    RAM: 8 bytes of codes instead of 256 bytes of floats per vector."""
    cb = np.ascontiguousarray(codebooks)      # [m, C, d_sub]
    m, n_codes, d_sub = cb.shape

    def enc(b):
        V = vectors(b.column("_v"))
        V = V / (np.linalg.norm(V, axis=1, keepdims=True) + 1e-12)
        S = V.reshape(len(V), m, d_sub)
        # ||x - c||^2 per (row, subspace, codeword); argmin is stable ->
        # ties take the lower codeword id, matching the SQL oracle's
        # ORDER BY dist ASC, code ASC
        d2 = (
            (S[:, :, None, :] - cb[None, :, :, :]) ** 2
        ).sum(axis=3)
        yield {"codes": list(np.argmin(d2, axis=2).astype("int32"))}

    return batch_map(
        embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("_v")),
        enc, "codes array<int>", carry=["neighbor_id"],
    )


def _pair_cosine(b) -> np.ndarray:
    """Raw cosine of each (query_vec, _v) row of an Arrow slice."""
    qa = vectors(b.column("query_vec"))
    va = vectors(b.column("_v"))
    num = np.einsum("ij,ij->i", qa, va)
    den = np.linalg.norm(qa, axis=1) * np.linalg.norm(va, axis=1)
    return num / den


def _pair_scored_cut(cands: DataFrame, k: int, slack: float,
                     qid_t: str, nid_t: str) -> DataFrame:
    """Score (query, neighbor) candidate pairs — columns (query_id,
    query_vec, neighbor_id, _v) — with one batched numpy cosine per Arrow
    slice, keeping only each query's LOCAL top-k candidates plus the
    rounding slack.

    This bounds the pre-window shuffle at ~batches * Q * k rows instead of
    every scored candidate (for IVF that is nprobe/n_centroids of the
    corpus PER QUERY — the N * Q-shaped volume cosine_topk's local cut
    already eliminates).  The raw cosine is one einsum and one division
    (:func:`_pair_cosine`), so rounded values — and therefore the oracle
    hash — match a plain per-pair cosine.  A query's k-th best is read off
    one sort by (query, raw desc); NaN scores (zero vectors) sort last,
    count toward no query's k and never pass the cut.
    """

    def score(b):
        raw = _pair_cosine(b)
        qid = b.column("query_id").to_numpy(zero_copy_only=False)
        nid = b.column("neighbor_id").to_numpy(zero_copy_only=False)
        _, code = np.unique(qid, return_inverse=True)
        order = np.lexsort((-raw, code))
        srt, grp = raw[order], code[order]
        starts = np.flatnonzero(np.r_[True, grp[1:] != grp[:-1]])
        finite = np.add.reduceat(~np.isnan(srt), starts)
        pos = starts + np.maximum(np.minimum(k, finite) - 1, 0)
        kth = np.where(finite > 0, srt[pos], np.nan)[code]
        keep = raw >= (kth - slack)
        yield {"query_id": qid[keep], "neighbor_id": nid[keep],
               "_raw": raw[keep]}

    return batch_map(
        cands.select("query_id", "query_vec", "neighbor_id", "_v"), score,
        "query_id %s, neighbor_id %s, _raw double" % (qid_t, nid_t),
    )


def _pair_threshold_cut(cands: DataFrame, min_raw: float,
                        qid_t: str, nid_t: str) -> DataFrame:
    """Score (query, neighbor) candidate pairs — columns (query_id,
    query_vec, neighbor_id, _v) — with one batched numpy cosine per Arrow
    slice, emitting only pairs whose RAW cosine is >= ``min_raw`` (NaN
    never is).

    The volume cut for threshold semantics (near-dup detection): the
    surviving set is the near-dup pairs themselves, so the post-score
    shuffle carries ~nothing even when the candidate join is large.
    Same einsum/division arithmetic as _pair_scored_cut.
    """

    def score(b):
        raw = _pair_cosine(b)
        keep = raw >= min_raw
        qid = b.column("query_id").to_numpy(zero_copy_only=False)
        nid = b.column("neighbor_id").to_numpy(zero_copy_only=False)
        yield {"query_id": qid[keep], "neighbor_id": nid[keep],
               "_raw": raw[keep]}

    return batch_map(
        cands.select("query_id", "query_vec", "neighbor_id", "_v"), score,
        "query_id %s, neighbor_id %s, _raw double" % (qid_t, nid_t),
    )


def _pq_query_luts(queries: DataFrame, cb):
    """Collect the (small) query side and build the per-query ADC lookup
    tables driver-side: LUT[q, j, c] = dot(q_subvec_j, codebook[j][c])."""
    m = cb.shape[0]
    qrows = queries.select("query_id", "query_vec").collect()
    qids = np.array([r["query_id"] for r in qrows])
    Qm = np.stack(
        [np.asarray(r["query_vec"], dtype=np.float64) for r in qrows]
    )
    Qn = Qm / (np.linalg.norm(Qm, axis=1, keepdims=True) + 1e-12)
    d_sub = Qn.shape[1] // m
    lut = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), m, d_sub), cb)
    return qids, lut


def _pq_scored(codes: DataFrame, qids, lut, k: int, slack: float,
               qid_t: str, nid_t: str) -> DataFrame:
    """ADC scoring of a codes table with the partition-local top-k cut.

    Each Arrow batch computes its dense [n, Q] ADC score block (m LUT
    gathers + a sum per cell) and emits only each query's LOCAL top-k
    candidates (plus the rounding slack), so the pre-window shuffle
    carries ~batches * Q * k rows instead of the N * Q scored cross
    product — the same bounded-candidate argument as cosine_topk; ADC
    scores are plain float sums, so the identical slack proof applies.
    """
    m = lut.shape[1]

    def score(b, qids=qids, lut=lut):
        ids = b.column("neighbor_id").to_numpy(zero_copy_only=False)
        C = b.column("codes").flatten().to_numpy().reshape(len(ids), m)
        # gather: g[q, n, j] = lut[q, j, C[n, j]] (advanced indices
        # [1, m] and [n, m] broadcast to [n, m]); sum over subspaces
        g = lut[:, np.arange(m)[None, :], C]               # [Q, n, m]
        S = g.sum(axis=2).T                                # [n, Q]
        yield _local_topk_frame(ids, S, qids, k, slack, score_name="score")

    return batch_map(
        codes, score,
        "query_id %s, neighbor_id %s, score double" % (qid_t, nid_t),
    )


def _rank_scored(scored: DataFrame, k: int, round_to: int,
                 score_col: str = "score",
                 in_col: str | None = None) -> DataFrame:
    """Round-then-rank window shared by every ANN scorer: score DESC,
    neighbor ASC, keep rank <= k.  ``in_col`` names the raw-score input
    column when it differs from the output name (e.g. _raw -> cosine)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "neighbor_id",
            F.round(F.col(in_col or score_col), round_to).alias(score_col),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, "rank")
    )


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 8, n_codes: int = 16,
            id_col: str = "vec_id", vec_col: str = "embedding",
            round_to: int = 4) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: corpus rows
    are PQ codes; each query builds its [m, C] lookup table of subvector
    dot products ONCE, and a row's score is m table gathers + a sum —
    never a full-dimension dot product against raw corpus floats.

    Plan: encode is a stateless Arrow map over the corpus (zero
    shuffles); scoring gathers per Arrow batch with the LUTs in the
    closure and keeps only LOCAL top-k candidates (plus rounding slack),
    so the final per-query window shuffles ~batches * Q * k rows — never
    the N * Q cross product.  Exactly the cosine ranking when vectors
    equal their codewords; otherwise approximate — recall floor asserted
    in tests.
    """
    cb = pq_codebooks(embeddings, m, n_codes, id_col, vec_col)
    codes = pq_encode(embeddings, cb, id_col, vec_col)
    qids, lut = _pq_query_luts(queries, cb)
    qid_t = queries.schema["query_id"].dataType.simpleString()
    nid_t = embeddings.schema[id_col].dataType.simpleString()
    scored = _pq_scored(codes, qids, lut, k, 1.5 / (10 ** round_to),
                        qid_t, nid_t)
    return _rank_scored(scored, k, round_to)


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------

def semdedup(embeddings: DataFrame, threshold: float = 0.80,
             n_clusters: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 4,
             quantizer: str = "sample") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space, compare pairs ONLY within a cluster, and drop every row that
    has a LOWER-id clustermate with cosine >= ``threshold`` (the paper
    keeps one representative per semantic-duplicate group; lowest id is
    the deterministic choice).

    Returns (id, list_id, keep) for every input row.

    Plan: one cluster-assignment Arrow map (zero shuffles), one
    within-cluster self-join keyed on list_id, batched-numpy pair
    scoring with an early threshold cut, then an anti-join marks
    survivors.  The cluster structure is exactly what bounds the
    quadratic: pair volume is sum_c |c|^2, so at 10^12 rows you scale
    ``n_clusters`` with the corpus (the paper uses ~10^5 clusters for
    LAION-scale) to hold |c| ~ constant — and train the quantizer with
    :func:`ivf_centroids_kmeans` for balance; the md5-sample quantizer
    here keeps the whole path SQL-oracle-expressible.

    The assigned frame is pinned (localCheckpoint) because BOTH sides of
    the self-join read it — unpinned, Spark re-runs the assignment map
    per side.
    """
    cents = _quantizer(embeddings, quantizer, n_clusters, id_col, vec_col)
    assigned = _assign(embeddings.select(id_col, vec_col), vec_col, cents,
                       "list_id", [id_col, vec_col]
                       ).localCheckpoint(eager=False)
    a = assigned.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        "list_id",
    )
    b = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        "list_id",
    )
    # keep only (lower-id -> higher-id) comparisons: a row is a duplicate
    # iff SOME lower-id clustermate clears the threshold, so each
    # unordered pair is scored once
    cands = a.join(b, "list_id").filter(
        F.col("query_id") < F.col("neighbor_id")
    )
    qid_t = embeddings.schema[id_col].dataType.simpleString()
    # threshold cut, NOT the top-k cut: a higher-id row is a duplicate if
    # ANY lower-id witness clears the threshold, so every above-threshold
    # pair matters (a per-query top-k would drop witnesses).  The batch
    # emits only pairs with raw >= threshold - slack — near-dup pairs are
    # tiny by definition, so the shuffle after the join carries almost
    # nothing; the final rounded comparison uses the same slack argument
    # as the top-k cut.
    slack = 1.5 / (10 ** round_to)
    scored = _pair_threshold_cut(cands, threshold - slack, qid_t, qid_t)
    dupes = (
        scored.filter(F.round(F.col("_raw"), round_to) >= threshold)
        .select(F.col("neighbor_id").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dupes.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col, "list_id",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def _sq8_quantize(M: np.ndarray):
    """Per-row int8 scalar quantization of a [n, d] float64 block:
    scale = max|x|/127 and q = floor(x/scale + 0.5).  Every operation
    is per-element or an order-independent max — NO float accumulation
    — so the codes are bit-exact reproducible across engines."""
    mx = np.maximum(np.abs(M).max(axis=1), 1e-30)
    sc = mx / 127.0
    return np.floor(M / sc[:, None] + 0.5).astype(np.int64), sc


def sq8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_queries: int = 65536) -> DataFrame:
    """Top-k maximum-inner-product neighbors over INT8
    scalar-quantized vectors — the 4×-smaller, SIMD-friendly index
    format every production vector store offers (FAISS SQ8 et al.);
    normalize embeddings upstream and MIPS = cosine.

    The trick that makes this operator EXACTLY oracle-checkable where
    float cosine needs rounding: quantization uses only per-element
    ops and an order-independent max (scale = max|x|/127,
    q = floor(x/scale + 0.5) — |q| <= 127 by construction, no clamp),
    and scoring is an INTEGER dot product rescaled by two float
    multiplies: score = (scale_c * scale_q) * dot.  No float summation
    anywhere, so scores are bit-identical in numpy and SQL and the
    output quantizes to ``score_e6`` with a deterministic
    (score desc, id asc) rank.

    Same scale shape as cosine_topk: query codes ride in the closure
    (chunked at ``max_queries``), each corpus partition emits only its
    LOCAL top-k (+2e-6 slack — excluded rows floor-quantize strictly
    below the kept k-th, see cosine_topk's cut argument), so the
    shuffle carries ~partitions * Q * k rows, never N * Q.
    Returns (query_id, neighbor_id, score_e6, rank).
    """
    qrows = queries.select("query_id", "query_vec").collect()
    qid_type = queries.schema["query_id"].dataType.simpleString()
    nid_type = embeddings.schema[id_col].dataType.simpleString()
    scored_ddl = "query_id %s, neighbor_id %s, _raw double" % (
        qid_type, nid_type,
    )
    corpus = embeddings.select(id_col, vec_col)
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], scored_ddl + ", score_e6 long, rank int"
        ).select("query_id", "neighbor_id", "score_e6", "rank")
    scored = None
    for lo in range(0, len(qrows), max_queries):
        chunk = qrows[lo : lo + max_queries]
        qids = np.array([r.query_id for r in chunk])
        Qm = np.stack(
            [np.asarray(r.query_vec, dtype=np.float64) for r in chunk]
        )
        Qq, qsc = _sq8_quantize(Qm)

        def score_partition(b, qids=qids, Qq=Qq, qsc=qsc):
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            Cq, csc = _sq8_quantize(vectors(b.column(vec_col)))
            dots = (Cq @ Qq.T).astype(np.float64)       # exact int dot
            S = (csc[:, None] * qsc[None, :]) * dots
            yield _local_topk_frame(ids, S, qids, k, slack=2e-6)

        part = batch_map(corpus, score_partition, scored_ddl)
        scored = part if scored is None else scored.unionByName(part)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "neighbor_id",
            F.floor(F.col("_raw") * 1e6).cast("long").alias("score_e6"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_e6", "rank")
    )


def cluster_sample(embeddings: DataFrame, n_centroids: int = 16,
                   cap: int = 10, id_col: str = "vec_id",
                   vec_col: str = "embedding", salt: str = "d4",
                   quantizer: str = "sample",
                   bucket_nibbles: int = 2) -> DataFrame:
    """Diversity sampling by cluster cap (the D4 recipe, Tirumala et
    al. 2023: cluster the embedding space, then keep a bounded number
    of documents per cluster — dense template regions contribute at
    most ``cap`` docs while sparse regions keep everything, flattening
    the corpus toward semantic uniformity).

    Assignment is the IVF coarse quantizer (nearest of ``n_centroids``
    centroids by cosine, ties to the lower centroid id); within a
    cluster the ``cap`` survivors are the md5-smallest — the repo's
    seedless uniform pick, so re-runs and the SQL twin select identical
    rows.  Returns (vec_id, cluster_id, rank), rank 1..cap in md5
    order.

    Scale: with the trained quantizer, n_centroids scales with the
    corpus (C ~ N/1e6), but a plain per-cluster rank window would still
    be a giant partition for any hot cluster — so the global in-cluster
    rank is assembled EXACTLY from a two-level bucketed rank (the
    mixture_sample idiom, operators/sample.py): row_number within
    (cluster, md5-prefix bucket) + a broadcast running-sum offset over
    the tiny (cluster, bucket) count table.  All bulk shuffles are
    keyed (cluster, bucket) — 16^bucket_nibbles-way spread of every
    cluster; raise ``bucket_nibbles`` at corpus scale."""
    cents = _quantizer(embeddings, quantizer, n_centroids, id_col, vec_col)
    key = F.md5(
        F.concat_ws(":", F.lit(salt), F.col("vec_id").cast("string"))
    )
    asg = _assign(
        embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("_v")),
        "_v", cents, "cluster_id", ["vec_id"],
    ).withColumn("_k", key).withColumn(
        "_bkt", F.substring("_k", 1, bucket_nibbles))
    bcounts = asg.groupBy("cluster_id", "_bkt").agg(
        F.count("*").alias("_bn")
    )
    w_off = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("_bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bcounts.select(
        "cluster_id", "_bkt",
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_off"),
    )
    w_loc = Window.partitionBy("cluster_id", "_bkt").orderBy(
        F.col("_k").asc()
    )
    ranked = (
        asg.withColumn("_loc", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), ["cluster_id", "_bkt"])
        .select(
            "vec_id", "cluster_id",
            (F.col("_off") + F.col("_loc")).cast("int").alias("rank"),
        )
    )
    return ranked.filter(F.col("rank") <= cap)


def ann_recall_report(embeddings: DataFrame, queries: DataFrame,
                      k: int = 10, n_centroids: int = 16,
                      nprobe: int = 8, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Index-quality gate: per-query recall@k of the IVF index against
    the exact brute-force ranking — the measurement every ANN rollout
    runs before swapping an index into production (approximate search
    that silently lost recall corrupts dedup/curation downstream).

    recall@k = |approx top-k ∩ exact top-k| / k, e6-floored; queries
    with zero overlap keep a row (left join from the exact side).

    Scale: both rankings are the already-cut pipelines (partition-local
    top-k); the intersection is one (query_id, neighbor_id)-keyed
    left-semi-shaped equi join over ~Q*k rows — tiny next to either
    search.  At production scale run it on a query SAMPLE; the plan is
    unchanged."""
    exact = cosine_topk(embeddings, queries, k=k,
                        id_col=id_col, vec_col=vec_col)
    approx = ivf_cosine_topk(embeddings, queries, k=k,
                             n_centroids=n_centroids, nprobe=nprobe,
                             id_col=id_col, vec_col=vec_col)
    hits_ = approx.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).groupBy("query_id").agg(F.count("*").cast("long").alias("n_hit"))
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits_, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
            .alias("n_hit"),
        )
        .withColumn(
            "recall_e6",
            F.floor(1e6 * F.col("n_hit").cast("double") / float(k))
            .cast("long"),
        )
    )
