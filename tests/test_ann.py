"""ANN scale-path quality gates: the approximate variants must hold a
recall floor against exact brute force (everything is deterministic —
centroids/hyperplanes derive from hashes, not RNG state)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def _emb_queries(spark):
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return emb, qs


def _recall(exact, approx) -> float:
    hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
    return hits / exact.count()


def test_ivf_recall_floor(spark):
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    exact = ann.cosine_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    approx = ann.ivf_cosine_topk(
        emb, qs, k=10, n_centroids=16, nprobe=8
    )
    # uniform random vectors are IVF's worst case: recall ~= scanned
    # fraction (nprobe/C = 0.5); measured 0.72 on this corpus
    assert _recall(exact, approx.select("query_id", "neighbor_id")) >= 0.6
    # shape contract: <= k rows per query, ranks contiguous from 1
    per_q = approx.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert per_q.filter("n != mx or n > 10").count() == 0


def test_ivf_corpus_vector_lands_in_one_list(spark):
    """Each corpus vector is indexed exactly once (inverted-list property):
    no duplicate (query, neighbor) rows before top-k."""
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    approx = ann.ivf_cosine_topk(emb, qs, k=10, n_centroids=16, nprobe=16)
    # probing ALL lists == exact brute force (recall 1.0)
    exact = ann.cosine_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    assert _recall(exact, approx.select("query_id", "neighbor_id")) == 1.0


def _planted_corpus(spark, n_base=60, dim=64):
    """Deterministic corpus with planted near-dup pairs: base vector i and
    its noisy copy (i + 1000) sit at cosine ~0.97-0.99; distinct bases are
    near-orthogonal.  Built from md5-seeded values, no RNG state."""
    import hashlib

    import numpy as np

    def vec(tag, i):
        h = b"".join(
            hashlib.md5(("%s:%d:%d" % (tag, i, j)).encode()).digest()
            for j in range((dim * 8) // 16 + 1)
        )
        raw = np.frombuffer(h[: dim * 8], dtype="<i8").astype(np.float64)
        return raw / float(1 << 63)

    rows = []
    for i in range(n_base):
        base = vec("base", i)
        noise = vec("noise", i) * 0.12  # cosine(base, base+noise) ~ 0.97+
        rows.append((i, [float(x) for x in base]))
        rows.append((i + 1000, [float(x) for x in (base + noise)]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_lsh_topk_finds_planted_neighbor(spark):
    """Design-regime recall: each query's true nearest neighbor (its
    planted near-dup, cosine ~0.97) must surface in the LSH top-k.
    OR-amplification at the defaults (4 tables x 8 bits, Hamming<=1
    probing) predicts ~0.999; assert >= 0.9.  (On UNIFORM random vectors
    recall degrades toward the scanned fraction — the documented worst
    case, same as IVF; measured 0.23 at these settings on the sf0.001
    embeddings table.)"""
    from htmlcleanup_spark.operators import ann

    emb = _planted_corpus(spark)
    qs = emb.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    approx = ann.lsh_cosine_topk(emb, qs, k=5)
    hits = approx.filter(
        F.col("neighbor_id") == F.col("query_id") + 1000
    ).count()
    assert hits / 60 >= 0.9


def test_embedding_near_dups_recall_floor(spark):
    """Planted near-dups (cosine >= 0.9) must be recovered; ground truth is
    exact brute force over the same corpus at the same threshold."""
    from htmlcleanup_spark.operators import ann

    emb = _planted_corpus(spark)
    got = ann.embedding_near_dup_pairs(emb, threshold=0.9)
    found = {(r.id_a, r.id_b) for r in got.collect()}
    # brute-force ground truth
    import numpy as np

    rows = emb.collect()
    V = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = [r.vec_id for r in rows]
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    gt = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(S[i][j], 4) >= 0.9:
                gt.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    assert len(gt) >= 50  # the plant worked
    recall = len(found & gt) / len(gt)
    assert recall >= 0.9, recall
    # no false positives: every reported pair really clears the threshold
    assert found <= gt


def test_lsh_multiprobe_covers_hamming_le_1(spark):
    """Structural guarantee: pairs whose signatures agree exactly or differ
    in one bit (in any table) are candidates — verified by comparing the
    candidate set against a direct signature computation."""
    import numpy as np

    from htmlcleanup_spark.operators import ann

    emb = _planted_corpus(spark, n_base=30)
    rows = emb.collect()
    P = ann.plane_matrix(64, 8, 42, 4)
    weights = (1 << np.arange(8)).astype(np.int64)
    sigs = {}
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        s = ((v @ P.T) >= 0.0).reshape(4, 8) @ weights
        sigs[r.vec_id] = s
    expected = set()
    idl = sorted(sigs)
    for i in range(len(idl)):
        for j in range(i + 1, len(idl)):
            a, b = sigs[idl[i]], sigs[idl[j]]
            if any(bin(int(x) ^ int(y)).count("1") <= 1 for x, y in zip(a, b)):
                expected.add((idl[i], idl[j]))
    got = ann.embedding_near_dup_pairs(emb, threshold=-1.0)
    found = {(r.id_a, r.id_b) for r in got.collect()}
    assert found == expected


def test_ivf_kmeans_quantizer(spark):
    """The MLlib-trained quantizer: probing ALL lists is still exact
    (inverted-list partition property holds for any quantizer), and at
    nprobe=8/16 recall must clear the same floor as the sample quantizer
    on this corpus."""
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    exact = ann.cosine_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    full = ann.ivf_cosine_topk(
        emb, qs, k=10, n_centroids=16, nprobe=16, quantizer="kmeans"
    )
    assert _recall(exact, full.select("query_id", "neighbor_id")) == 1.0
    part = ann.ivf_cosine_topk(
        emb, qs, k=10, n_centroids=16, nprobe=8, quantizer="kmeans"
    )
    assert _recall(exact, part.select("query_id", "neighbor_id")) >= 0.6


def test_cosine_topk_chunked_matches_single_pass(spark):
    """Q > max_queries falls back to chunked corpus passes; the unioned
    result must equal the single-pass result exactly (exactness is the
    whole point of the brute-force baseline)."""
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    single = ann.cosine_topk(emb, qs, k=5)
    chunked = ann.cosine_topk(emb, qs, k=5, max_queries=3)
    a = {tuple(r) for r in single.collect()}
    b = {tuple(r) for r in chunked.collect()}
    assert a == b and len(a) > 0


def test_cosine_topk_string_ids(spark):
    """Id columns keep their input types: string vec_id/query_id must work
    and the self-match mask must still exclude identity pairs."""
    from htmlcleanup_spark.operators import ann

    emb = _planted_corpus(spark, n_base=10).select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    qs = emb.limit(4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ann.cosine_topk(emb, qs, k=3)
    assert dict(out.dtypes)["query_id"] == "string"
    assert dict(out.dtypes)["neighbor_id"] == "string"
    rows = out.collect()
    assert len(rows) == 12
    assert all(r.query_id != r.neighbor_id for r in rows)


# ---------------------------------------------------------------------------
# Product quantization + ADC
# ---------------------------------------------------------------------------

def _pure_pq_topk(vecs, queries, m=8, n_codes=16, k=10):
    """Independent reference: brute-force PQ encode + LUT scoring in
    numpy, mirroring the definition (not the implementation)."""
    import hashlib

    import numpy as np

    ids = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    V = np.stack([np.asarray(vecs[i], dtype=np.float64)
                  for i in ids[:n_codes]])
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    d_sub = V.shape[1] // m
    cb = np.stack([V[:, j * d_sub:(j + 1) * d_sub] for j in range(m)])
    out = {}
    for qid, qv in queries.items():
        qn = np.asarray(qv, np.float64)
        qn = qn / np.linalg.norm(qn)
        lut = np.stack(
            [cb[j] @ qn[j * d_sub:(j + 1) * d_sub] for j in range(m)]
        )  # [m, C]
        scored = []
        for vid, vv in vecs.items():
            if vid == qid:
                continue
            vn = np.asarray(vv, np.float64)
            vn = vn / np.linalg.norm(vn)
            s = 0.0
            for j in range(m):
                d2 = ((cb[j] - vn[j * d_sub:(j + 1) * d_sub]) ** 2).sum(1)
                s += lut[j][int(np.argmin(d2))]
            scored.append((round(s, 4), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = scored[:k]
    return out


def test_pq_topk_matches_pure_reference(spark):
    import numpy as np

    from htmlcleanup_spark.operators.ann import pq_topk

    rng = np.random.RandomState(7)
    vecs = {i: rng.randn(64).tolist() for i in range(80)}
    queries = {1000 + i: rng.randn(64).tolist() for i in range(5)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(i, v) for i, v in queries.items()],
        "query_id bigint, query_vec array<double>",
    )
    got = {}
    for r in pq_topk(emb, q, k=5).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["score"], r["neighbor_id"])
        )
    want = _pure_pq_topk(vecs, queries, k=5)
    for qid in queries:
        w = [(i + 1, s, v) for i, (s, v) in enumerate(want[qid])]
        assert sorted(got[qid]) == w, qid


def test_pq_exact_when_vectors_are_codewords(spark):
    """Vectors that ARE codewords reconstruct losslessly, so ADC == exact
    cosine and PQ top-k == cosine_topk on such a corpus."""
    import numpy as np

    from htmlcleanup_spark.operators.ann import cosine_topk, pq_topk

    import hashlib

    rng = np.random.RandomState(3)
    base = rng.randn(16, 64)
    # assign by md5 RANK so the 16 md5-smallest ids carry the 16 DISTINCT
    # base vectors (the codebook sample sees them all); every later rank
    # repeats one -> every corpus vector equals some codeword
    order = sorted(range(48),
                   key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    vecs = {i: base[order.index(i) % 16].tolist() for i in range(48)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(900, base[0].tolist())], "query_id bigint, query_vec array<double>"
    )
    pq = {(r["neighbor_id"], r["score"])
          for r in pq_topk(emb, q, k=8).collect()}
    ex = {(r["neighbor_id"], r["cosine"])
          for r in cosine_topk(emb, q, k=8).collect()}
    assert pq == ex


def test_pq_recall_floor_planted(spark):
    """Planted near-duplicates of the query must surface in the PQ top-k
    (codes of near-identical vectors coincide)."""
    import numpy as np

    from htmlcleanup_spark.operators.ann import pq_topk

    rng = np.random.RandomState(11)
    qv = rng.randn(64)
    vecs = {}
    for i in range(60):
        vecs[i] = rng.randn(64).tolist()
    for i in range(60, 65):  # planted: tiny perturbations of the query
        vecs[i] = (qv + 0.01 * rng.randn(64)).tolist()
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(777, qv.tolist())], "query_id bigint, query_vec array<double>"
    )
    top = {r["neighbor_id"] for r in pq_topk(emb, q, k=5).collect()}
    assert len(top & {60, 61, 62, 63, 64}) >= 4


# ---------------------------------------------------------------------------
# Pre-window volume bounds: the partition-local top-k cut must hold
# ---------------------------------------------------------------------------

def test_pq_scored_volume_bounded(spark):
    """pq_topk's scoring stage may emit only each query's LOCAL top-k
    candidates (plus rounding-slack ties) per Arrow batch — never the
    N * Q scored cross product (the round-3 scale gap)."""
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    k = 10
    cb = ann.pq_codebooks(emb, 8, 16)
    codes = ann.pq_encode(emb, cb)
    qids, lut = ann._pq_query_luts(qs, cb)
    scored = ann._pq_scored(codes, qids, lut, k, 1.5e-4,
                            "bigint", "bigint")
    n = scored.count()
    N, Q = emb.count(), qs.count()
    batches = max(codes.rdd.getNumPartitions(), 1)
    assert n <= batches * Q * (k + 40), (n, batches, Q)
    assert n < N * Q / 10, (n, N * Q)


def test_ivf_scored_volume_bounded(spark):
    """ivf_cosine_topk's scoring stage may emit only local top-k
    candidates per batch — strictly fewer rows than the probed candidate
    set it scores (previously every probed candidate hit the window
    exchange)."""    
    from htmlcleanup_spark.operators import ann

    emb, qs = _emb_queries(spark)
    k, n_centroids, nprobe = 10, 16, 4
    cents = ann.ivf_centroids(emb, n_centroids)
    cands = ann._ivf_candidates(emb, qs, cents, nprobe)
    n_cands = cands.count()
    scored = ann._pair_scored_cut(cands, k, 1.5e-4, "bigint", "bigint")
    n = scored.count()
    Q = qs.count()
    parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    assert n <= parts * Q * (k + 40), (n, parts, Q)
    assert n < n_cands / 2, (n, n_cands)


def test_semdedup_planted_duplicates(spark):
    """Planted semantic duplicates (same vector + tiny noise, hence
    same cluster and cosine ~1) must keep only the lowest id; distant
    vectors must all survive."""
    import numpy as np

    from htmlcleanup_spark.operators.ann import semdedup

    rng_base = np.eye(8)                     # 8 well-separated directions
    rows = []
    vid = 0
    for d in range(8):
        copies = 3 if d < 2 else 1           # dirs 0,1 planted in triplicate
        for c in range(copies):
            v = rng_base[d] + 0.001 * c      # near-identical copies
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.keep for r in
           semdedup(df, threshold=0.99, n_clusters=4).collect()}
    assert len(out) == len(rows)
    # ids 0..2 are copies of dir 0 -> keep only 0; 3..5 copies of dir 1
    assert out[0] is True and out[1] is False and out[2] is False
    assert out[3] is True and out[4] is False and out[5] is False
    assert all(out[i] for i in range(6, vid))


def test_sq8_topk_matches_numpy_replica_exactly(spark):
    import numpy as np

    from htmlcleanup_spark.operators.ann import _sq8_quantize, sq8_topk

    rng = [(i, [((i * 7 + j * 13) % 29 - 14) / 7.0 for j in range(8)])
           for i in range(40)]
    emb = spark.createDataFrame(
        rng, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id % 10 = 0").select(
        "vec_id", "embedding").toDF("query_id", "query_vec")
    out = sq8_topk(emb, queries, k=5)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.score_e6)
           for r in out.collect()}

    M = np.array([v for _, v in rng], dtype=np.float64)
    Qc, sc = _sq8_quantize(M)
    assert np.abs(Qc).max() <= 127
    exp = {}
    for qi in range(0, 40, 10):
        scores = []
        for ci in range(40):
            if ci == qi:
                continue
            dot = float(np.dot(Qc[qi], Qc[ci]))
            raw = (sc[ci] * sc[qi]) * dot
            scores.append((int(np.floor(raw * 1e6)), ci))
        scores.sort(key=lambda t: (-t[0], t[1]))
        for rank, (s6, ci) in enumerate(scores[:5], 1):
            exp[(qi, rank)] = (ci, s6)
    assert got == exp


def test_sq8_topk_zero_vector_guard(spark):
    from htmlcleanup_spark.operators.ann import sq8_topk

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [2.0, 4.0])],
        "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").select(
        "vec_id", "embedding").toDF("query_id", "query_vec")
    rows = sq8_topk(emb, queries, k=2).collect()
    # zero vector quantizes to all-zero codes: finite zero scores
    assert [r.score_e6 for r in rows] == [0, 0]
