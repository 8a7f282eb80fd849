"""Seeded inputs: pages with an exact size mix, and their pure-engine twin.

``sources.pages`` draws each page's size class at random (90% small, 9%
medium, 1% giant), so a corpus of a thousand pages holds 10 ± 3 giant pages.
Giant pages carry about 40% of the bytes, and their count alone would move
run time by ±10% from seed to seed.  The benchmark therefore keeps the
generator's pages but selects them per class, so every seed has the mix
exactly: 90 small, 9 medium and 1 giant page in each 100.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys

SMALL_MAX = 10_000     # make_html targets 0.5-4 KB
MEDIUM_MAX = 100_000   # 16-64 KB; giant pages are 256-512 KB
MIX = (90, 9, 1)       # per 100 pages: small, medium, giant


def size_class(n_bytes: int) -> int:
    return 0 if n_bytes < SMALL_MAX else (1 if n_bytes < MEDIUM_MAX else 2)


def engine_blocks(seed: int, n_blocks: int):
    """``n_blocks`` lists of 100 ``make_html(i, seed)`` pages, each list with
    the exact 90/9/1 mix, in a seeded order."""
    import random

    from htmlcleanup_spark.sources.pages import make_html

    pools: list[list[bytes]] = [[], [], []]
    need = [k * n_blocks for k in MIX]
    i = 0
    while any(len(p) < n for p, n in zip(pools, need)):
        html = make_html(i, seed)
        c = size_class(len(html))
        if len(pools[c]) < need[c]:
            pools[c].append(html)
        i += 1
    rng = random.Random(seed)
    blocks = []
    for b in range(n_blocks):
        block = [p for c, k in enumerate(MIX)
                 for p in pools[c][b * k:(b + 1) * k]]
        rng.shuffle(block)
        blocks.append(block)
    return blocks


def extract_rows(seed: int, n_urls: int):
    """Rows of ``synth_rows(·, seed)`` for ``n_urls`` urls whose newest crawl
    follows the exact mix; each selected url keeps all of its crawls, so the
    recrawl rows (every 10th row) still exercise the dedup window."""
    from htmlcleanup_spark.sources.pages import synth_rows

    quota = [n_urls * k // 100 for k in MIX]
    quota[0] += n_urls - sum(quota)
    by_url: dict[str, list] = {}
    seen: list = []
    taken = [0, 0, 0]
    chosen: list[str] = []
    # synth_rows is lazy and synth_rows(n) is a prefix of synth_rows(n + k)
    for i, row in enumerate(synth_rows(1 << 40, seed)):
        by_url.setdefault(row[0], []).append(row)
        seen.append(row)
        if i < 10:
            continue
        # a recrawl lands 9 rows after its url's first crawl, so the url
        # first crawled 10 rows back has all its crawls by now
        first = seen[i - 10]
        crawls = by_url[first[0]]
        if crawls[0] is not first:
            continue
        c = size_class(len(max(crawls, key=lambda r: r[1])[2]))
        if taken[c] < quota[c]:
            taken[c] += 1
            chosen.append(first[0])
            if taken == quota:
                return [r for url in chosen for r in by_url[url]]
    raise AssertionError("unreachable: synth_rows is unbounded")


def write_pages(rows, path: str) -> None:
    """The pages table as one parquet file with the program's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", "UTC")),
        "html": pa.array([r[2] for r in rows], pa.binary()),
        "text": pa.array([r[3] for r in rows], pa.string()),
        "lang": pa.array([r[4] for r in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def newest_by_url(rows) -> dict:
    """The dedup window's contract: newest ``warc_ts`` per url wins."""
    latest: dict = {}
    for url, ts, html, _text, _lang in rows:
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, html)
    return {url: html for url, (_ts, html) in latest.items()}


def _clean(html: bytes):
    from htmlcleanup_spark.engine.clean import clean_html

    r = clean_html(html)
    return r.text, r.error, r.bytes_in, r.bytes_out


def twin(rows, seed: int, cache_dir: str) -> dict:
    """url -> (text, error, bytes_in, bytes_out), the pure-engine twin of the
    extract job: what ``sources.pages.expected_extract_rows`` computes, over
    this corpus.  Cached per (corpus, seed) under ``cache_dir``."""
    latest = newest_by_url(rows)
    key = hashlib.sha256()
    for url in sorted(latest):
        key.update(url.encode())
        key.update(hashlib.sha256(latest[url]).digest())
    path = os.path.join(cache_dir, "twin-%d-%s.pkl" % (seed, key.hexdigest()[:16]))
    if os.path.exists(path):
        with open(path, "rb") as f:  # written by this benchmark only
            return pickle.load(f)
    urls = sorted(latest)
    os.makedirs(cache_dir, exist_ok=True)
    pages = path + ".pages"
    with open(pages, "wb") as f:
        pickle.dump([latest[u] for u in urls], f)
    # one child per core, each cleaning every n-th page: a cold twin is on
    # the critical path of a run.  Plain subprocesses, each waited for, so
    # no helper process (such as multiprocessing's resource tracker)
    # outlives the run.
    n = len(os.sched_getaffinity(0))
    env = dict(os.environ, PYTHONPATH=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), pages, str(i), str(n)],
        stdout=subprocess.PIPE, env=env) for i in range(n)]
    try:
        shards = [pickle.loads(p.communicate()[0]) for p in procs]
        if any(p.returncode for p in procs):
            raise RuntimeError("a twin shard failed")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        os.remove(pages)
    cleaned = [None] * len(urls)
    for i, shard in enumerate(shards):
        cleaned[i::n] = shard
    out = dict(zip(urls, cleaned))
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


if __name__ == "__main__":
    # a twin shard: pages[i::n] of the pickled page list, cleaned, to stdout
    _pages, _i, _n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(_pages, "rb") as _f:
        _mine = pickle.load(_f)[_i::_n]
    pickle.dump([_clean(h) for h in _mine], sys.stdout.buffer)
