"""``extract_fresh`` and ``extract_resume``: ``plans.extract.run_extract``.

Closed loop, one client: each job starts after the last one finished and
its output was reset.  ``extract_fresh`` starts from an empty output path
and writes through the default append sink with its ``_lineage`` manifest.
``extract_resume`` starts each job from a committed merge-layout snapshot
that already holds a fixed half of the urls (chosen by hash) and writes
through the merge sink, so the resume anti-join and the MERGE twin work.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import corpus
import engine_wl
from harness import (RestTrace, dir_bytes, median, python_peak_rss_mb,
                     reset_dir, start_spark, stop_spark, tree_cpu_s)

N_URLS = 1200   # about 11 MB of newest crawls, 12 of them giant pages
# after a single untimed job, the next four still got 10-17% faster (JIT,
# Python workers), so three run untimed
WARMUP_PASSES = 3
# timed jobs per run, whatever --seconds says; four, not five, so that the
# runs of both listed workloads fit the benchmark's time limit
MIN_JOBS = 4


def _base_urls(rows) -> set[str]:
    """The fixed half of the urls the resume snapshot already holds: half
    of each size class, by url hash, so the new half keeps the exact mix."""
    by_class: list[list[str]] = [[], [], []]
    for url, html in corpus.newest_by_url(rows).items():
        by_class[corpus.size_class(len(html))].append(url)
    base = set()
    for urls in by_class:
        urls.sort(key=lambda u: hashlib.md5(u.encode()).digest())
        base.update(urls[: len(urls) // 2])
    return base


def _snapshot(out: str) -> str | None:
    snaps = sorted(n for n in os.listdir(out) if n.startswith("snap-")) \
        if os.path.isdir(out) else []
    for name in reversed(snaps):
        if os.path.exists(os.path.join(out, name, "_SUCCESS")):
            return os.path.join(out, name)
    return None


def _rows_at(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["url"]).num_rows


def check(out: str, resume: bool, expect: dict) -> bool:
    """Every url once, with (text, error, bytes_in, bytes_out) equal to the
    pure-engine twin; the fresh layout's lineage must count every doc."""
    import pyarrow as pa

    try:
        return _check(out, resume, expect)
    except (OSError, pa.ArrowException):  # missing or unreadable output
        return False


def _check(out: str, resume: bool, expect: dict) -> bool:
    import pyarrow.parquet as pq

    cols = ["url", "text", "error", "bytes_in", "bytes_out"]
    if resume:
        snap = _snapshot(out)
        if snap is None:
            return False
        t = pq.read_table(snap, columns=cols)
    else:
        t = pq.read_table(os.path.join(out, "data"), columns=cols)
        lineage = pq.read_table(os.path.join(out, "_lineage"),
                                columns=["docs_in"])
        if sum(lineage.column("docs_in").to_pylist()) != len(expect):
            return False
    got = {}
    for url, *rest in zip(*(t.column(c).to_pylist() for c in cols)):
        if url in got:
            return False
        got[url] = tuple(rest)
    return got == expect


def run(ctx, resume: bool) -> dict:
    t0 = time.perf_counter()
    rows = corpus.extract_rows(ctx.seed, N_URLS)
    pages = os.path.join(ctx.work, "pages")
    reset_dir(pages)
    corpus.write_pages(rows, pages)
    corpus_s = time.perf_counter() - t0

    expect = corpus.twin(rows, ctx.seed, os.path.join(ctx.work, "cache"))

    t0 = time.perf_counter()
    spark = start_spark(ctx.root, ctx.work, ctx.cores, ui=ctx.trace)
    try:
        res = _measure(ctx, spark, resume, rows, pages, expect, corpus_s, t0)
    finally:
        stop_spark(spark)
    if ctx.trace:
        # the engine's sub-layers on the pages the job cleans, timed in this
        # process once Spark has stopped
        layer, same = engine_wl.layers_of(
            list(corpus.newest_by_url(rows).values()))
        res["per_layer"].update(layer)
        res["attempted"] += 1
        res["failed"] += not same
    return res


def _measure(ctx, spark, resume, rows, pages, expect, corpus_s, t0):
    from htmlcleanup_spark.plans.extract import run_extract

    out = os.path.join(ctx.work, "out")
    base = os.path.join(ctx.work, "base")
    sink = "merge" if resume else "append"
    new_rows = len(rows)
    if resume:
        base_urls = _base_urls(rows)
        half = [r for r in rows if r[0] in base_urls]
        new_rows -= len(half)
        half_pages = os.path.join(ctx.work, "pages_half")
        reset_dir(half_pages)
        corpus.write_pages(half, half_pages)
        shutil.rmtree(base, ignore_errors=True)
        run_extract(spark, half_pages, output_path=base, sink="merge")
    done_rows = _rows_at(_snapshot(base)) if resume else 0

    def prepare():
        shutil.rmtree(out, ignore_errors=True)
        if resume:
            shutil.copytree(base, out)

    def job():
        return run_extract(spark, pages, output_path=out, sink=sink)

    warmups = []
    for _ in range(WARMUP_PASSES):
        prepare()
        t = time.perf_counter()
        job()
        warmups.append(time.perf_counter() - t)
    setup_s = corpus_s + time.perf_counter() - t0

    # traced: jobs alternate plain and traced, so the tracing overhead is
    # measured in the same session on the same corpus
    trace = RestTrace(spark) if ctx.trace else None
    walls, cpus, spans, traced_walls = [], [], [], []
    attempted = failed = docs = 0
    in_bytes = 0
    busy = 0.0
    # traced: three of each kind, enough for exact counts and the ratio
    min_jobs = 6 if trace else MIN_JOBS
    while busy < ctx.seconds or attempted < min_jobs:
        traced = trace is not None and attempted % 2 == 1
        prepare()
        sink0 = dir_bytes(out)
        mark = trace.mark() if traced else None
        c0 = tree_cpu_s()
        t = time.perf_counter()
        m = job()
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - c0
        busy += wall
        attempted += 1
        if not check(out, resume, expect):
            failed += 1
        if traced:
            traced_walls.append(wall)
            s = trace.collect(mark)
            s.update(wall=wall, docs_out=m["docs_out"],
                     docs_error=m["docs_error"], done_rows=done_rows,
                     sink_bytes=dir_bytes(out) - sink0,
                     dedup_dropped=new_rows - m["docs_out"])
            spans.append(s)
            continue
        walls.append(wall)
        cpus.append(cpu)
        docs += m["docs_out"]
        in_bytes += m["bytes_in"]

    result = {
        "attempted": attempted,
        "failed": failed,
        "samples": {"warmup_s": warmups, "wall_s": walls, "cpu_s": cpus,
                    "traced_wall_s": traced_walls},
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "cpu_s": median(cpus),
            "docs_per_s": docs / sum(walls),
            "mb_per_s_per_core": in_bytes / 1e6 / sum(walls) / ctx.cores,
            "worker_peak_rss_mb": python_peak_rss_mb(include_self=False),
        },
    }
    if trace:
        result["per_layer"] = _per_layer(spans)
        result["per_layer"]["trace.overhead_ratio"] = (
            median(traced_walls) / median(walls))
    return result


def _per_layer(spans) -> dict:
    def med(key):
        return median([s[key] for s in spans])

    return {
        "udf.python_run_s": med("python_run_s"),
        "udf.python_start_s": med("python_start_s"),
        "udf.python_init_s": med("python_init_s"),
        "udf.bytes_to_python": med("bytes_to_python"),
        "udf.bytes_from_python": med("bytes_from_python"),
        "udf.cascade_passes": median(
            [s["map_in_arrow_rows"] / s["docs_out"] for s in spans]),
        "udf.task_max_over_median": med("task_max_over_median"),
        "extract.jobs": med("jobs"),
        "extract.stages": med("stages"),
        "extract.exchanges": med("exchanges"),
        "extract.shuffle_write_bytes": med("shuffle_write_bytes"),
        "extract.shuffle_read_bytes": med("shuffle_read_bytes"),
        "extract.spill_bytes": med("spill_bytes"),
        "extract.jvm_cpu_s": med("jvm_cpu_s"),
        "extract.dedup_dropped": med("dedup_dropped"),
        "extract.done_rows": med("done_rows"),
        "extract.sink_bytes": med("sink_bytes"),
        "extract.unattributed_s": median(
            [s["wall"] - s["jobs_union_s"] for s in spans]),
        "doc_error_ratio": median(
            [s["docs_error"] / s["docs_out"] for s in spans]),
    }
