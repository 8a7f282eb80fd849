"""DSIR importance resampling: target-like raw docs outrank off-domain
ones; weights are integers."""


def test_dsir_ranks_target_like_docs_higher(spark):
    from htmlcleanup_spark.operators.dsir import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "spark sql query plan optimizer join shuffle")
         for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "spark sql query plan join"),        # on-domain
            (1, "cat dog bird fish lizard horse"),   # off-domain
            (2, "query plan shuffle optimizer"),     # on-domain
            (3, "pizza burger salad soup bread"),    # off-domain
        ],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.logw_e6
         for r in dsir_weights(raw, target, n_buckets=1 << 13).collect()}
    assert isinstance(w[0], int)
    assert min(w[0], w[2]) > max(w[1], w[3])
