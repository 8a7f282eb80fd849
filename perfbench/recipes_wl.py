"""``corpus_recipes``: the five ``training_corpus*`` queries of
``__spark_entry__.queries()``, run one after another with a noop sink.

Closed loop, one client: one job is one pass over the five recipes, each
recipe starting when the last one has finished.  The input is the fixed,
oracle-checked sf0.1 ``documents`` and ``embeddings`` tables, copied into
``data/sf0.1``, so the seed does not apply.  The untimed warm-up pass
collects every recipe's rows and checks them against ``oracle_sql()``
through DuckDB, as ``tests/oracle_harness.py`` does.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
import time

from harness import (RestTrace, median, python_peak_rss_mb, start_spark,
                     stop_spark, tree_cpu_s)

RECIPES = ("training_corpus", "training_corpus_v2", "training_corpus_v3",
           "training_corpus_v4", "training_corpus_v5")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data", "sf0.1")
TABLES = ("documents", "embeddings")   # all the five recipes read


def _table(name: str) -> str:
    return os.path.join(DATA, "%s.parquet" % name)


def oracle(sqls: dict, cache_dir: str) -> dict:
    """recipe -> the DuckDB result of its ``oracle_sql()`` over ``DATA``.
    Cached on disk per (oracle text, input bytes): a cold pass over the five
    recipes takes tens of seconds."""
    import duckdb

    key = hashlib.sha256()
    for t in TABLES:
        with open(_table(t), "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    for r in RECIPES:
        key.update(sqls[r].encode())
    path = os.path.join(cache_dir, "oracle-%s.pkl" % key.hexdigest()[:16])
    if os.path.exists(path):
        with open(path, "rb") as f:  # written by this benchmark only
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, _table(t)))
    out = {r: con.sql(sqls[r]).df() for r in RECIPES}
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def _input_stats():
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(_table("documents"), columns=["text"]).column("text")
    return len(text), pc.sum(pc.binary_length(text.cast("binary"))).as_py()


def run(ctx) -> dict:
    t0 = time.perf_counter()
    spark = start_spark(ctx.root, ctx.work, ctx.cores, ui=ctx.trace)
    try:
        return _measure(ctx, spark, t0)
    finally:
        stop_spark(spark)


def _measure(ctx, spark, t0):
    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(ctx.root, "tests"))
    from oracle_harness import compare

    qs = entry.queries()
    # warm-up pass: collected, so its rows can be checked below
    got = {r: qs[r](spark, DATA).toPandas() for r in RECIPES}
    setup_s = time.perf_counter() - t0

    expect = oracle(entry.oracle_sql(), os.path.join(ctx.work, "cache"))
    attempted = 1
    failed = int(any(compare(r, got[r], expect[r]) for r in RECIPES))
    rows_out = {r: len(got[r]) for r in RECIPES}
    n_docs, text_bytes = _input_stats()

    # traced: passes alternate plain and traced, so the tracing overhead
    # is measured in the same session
    trace = RestTrace(spark) if ctx.trace else None
    walls, cpus, traced_walls = [], [], []
    spans: dict[str, list] = {r: [] for r in RECIPES}
    busy = 0.0
    while busy < ctx.seconds or (trace and not traced_walls):
        traced = trace is not None and len(walls) > len(traced_walls)
        wall = cpu = 0.0
        for r in RECIPES:
            mark = trace.mark() if traced else None
            c0 = tree_cpu_s()
            t = time.perf_counter()
            qs[r](spark, DATA).write.format("noop").mode("overwrite").save()
            w = time.perf_counter() - t
            cpu += tree_cpu_s() - c0
            wall += w
            if traced:
                s = trace.collect(mark)
                s["wall"] = w
                spans[r].append(s)
        attempted += 1
        if traced:
            traced_walls.append(wall)
            continue
        busy += wall
        walls.append(wall)
        cpus.append(cpu)

    passes = len(walls)
    result = {
        "attempted": attempted,
        "failed": failed,
        "samples": {"wall_s": walls, "cpu_s": cpus,
                    "traced_wall_s": traced_walls},
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "cpu_s": median(cpus),
            "docs_per_s": n_docs * len(RECIPES) * passes / busy,
            "mb_per_s_per_core": (text_bytes * len(RECIPES) * passes / 1e6
                                  / busy / ctx.cores),
            "worker_peak_rss_mb": python_peak_rss_mb(include_self=False),
        },
    }
    if trace:
        layer = {}
        for r in RECIPES:
            ss = spans[r]
            layer.update({
                "recipe.%s.wall_s" % r: median([s["wall"] for s in ss]),
                "recipe.%s.jobs" % r: median([s["jobs"] for s in ss]),
                "recipe.%s.exchanges" % r: median(
                    [s["exchanges"] for s in ss]),
                "recipe.%s.shuffle_bytes" % r: median(
                    [s["shuffle_write_bytes"] for s in ss]),
                "recipe.%s.rows_out" % r: rows_out[r],
            })
        layer["trace.overhead_ratio"] = median(traced_walls) / median(walls)
        result["per_layer"] = layer
    return result
