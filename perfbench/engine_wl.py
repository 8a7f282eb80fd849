"""``engine_msfp``: ``clean_html`` alone, one process, no Spark.

Closed loop, one client: the next block of 100 pages starts when the last
one is cleaned.  A traced run times the engine's sub-layers by calling them
from here in ``clean_html``'s order, and alternates traced and plain blocks
so the tracing overhead is measured in the same run.
"""

from __future__ import annotations

import glob
import os
import time

import corpus
from harness import median, percentile, python_peak_rss_mb

N_BLOCKS = 12         # 1,200 pages, about 11 MB
# timed passes, whatever --seconds says: with one pass, the run medians of
# ten seeds spread by 17-19% on a 4-core VM whose speed wandered
MIN_PASSES = 3
LAYERS = ("decode", "preparse", "parse", "cascade", "serialize")
FIXTURE_SKIP = "w6-split-enabled"  # non-default rules, as q_clean_fixtures


def _key(r):
    return (r.text, r.error, r.bytes_in, r.bytes_out,
            tuple(sorted(r.rules_fired.items())))


def compose(html: bytes, spent: list):
    """``clean_html`` rebuilt from its sub-layers, adding each layer's time
    to ``spent`` (ordered as LAYERS).  Must equal ``clean_html`` byte for
    byte; the traced run checks that on every document."""
    from htmlcleanup_spark.engine import charset
    from htmlcleanup_spark.engine.cascade import CascadeEngine
    from htmlcleanup_spark.engine.clean import CleanResult
    from htmlcleanup_spark.engine.dom import parse
    from htmlcleanup_spark.engine.preparse import preparse
    from htmlcleanup_spark.engine.rules import DEFAULT_RULES as rules

    pc = time.perf_counter
    t0 = pc()
    bytes_in = len(html)
    text, _cs, err = charset.decode_html(bytes(html))
    t1 = pc()
    spent[0] += t1 - t0
    if text is None:
        return CleanResult(text=None, error=err, bytes_in=bytes_in)
    try:
        repaired = preparse(text, rules.font_faces_to_remove)
        t2 = pc()
        engine = CascadeEngine(rules)
        dom = parse(repaired)
        t3 = pc()
        doc = engine.run(dom)
        t4 = pc()
        out = str(doc).replace("<br />", "<br>")
        t5 = pc()
        spent[1] += t2 - t1
        spent[2] += t3 - t2
        spent[3] += t4 - t3
        spent[4] += t5 - t4
        fired = engine.fired
        if repaired != text.replace("\r\n", "\n"):
            fired = dict(fired)
            fired["p_preparse"] = 1
        return CleanResult(text=out, rules_fired=fired, error=None,
                           bytes_in=bytes_in,
                           bytes_out=len(out.encode("utf-8")))
    except Exception as exc:  # noqa: BLE001 — mirrors clean_html's contract
        return CleanResult(text=None, error="%s: %s" % (type(exc).__name__, exc),
                           bytes_in=bytes_in)


def fixture_failures(root: str) -> int:
    """The engine's byte contract: every fixture's output, byte for byte."""
    from htmlcleanup_spark.engine.clean import clean_html

    bad = 0
    pattern = os.path.join(root, "tests", "fixtures", "*", "*.in.html")
    for in_path in sorted(glob.glob(pattern)):
        if os.path.basename(os.path.dirname(in_path)) == FIXTURE_SKIP:
            continue
        with open(in_path) as f:
            html = f.read()
        with open(in_path.replace(".in.html", ".out.html")) as f:
            expected = f.read()
        r = clean_html(html)
        bad += r.error is not None or r.text != expected
    return bad


def run(ctx) -> dict:
    t_setup = time.perf_counter()
    from htmlcleanup_spark.engine.clean import clean_html

    blocks = corpus.engine_blocks(ctx.seed, N_BLOCKS)
    # warm-up pass, and the reference every timed block is checked against
    reference = [[_key(clean_html(h)) for h in block] for block in blocks]
    setup_s = time.perf_counter() - t_setup

    attempted, failed = 1, 0
    if fixture_failures(ctx.root):
        failed += 1

    walls, cpus, traced_walls = [], [], []
    docs = in_bytes = 0
    doc_ms: list[float] = []
    spent = [0.0] * len(LAYERS)
    busy = 0.0
    i = 0
    # whole passes over the blocks only: a block's time depends on the size
    # of its giant page, so a partial pass would weigh blocks unevenly
    per_pass = N_BLOCKS * (2 if ctx.trace else 1)
    while busy < ctx.seconds or i % per_pass or i < MIN_PASSES * per_pass:
        # traced: each block runs plain, then through the sub-layers
        b = (i // 2 if ctx.trace else i) % N_BLOCKS
        block = blocks[b]
        plain = not ctx.trace or i % 2 == 0
        c0 = time.process_time()
        t0 = time.perf_counter()
        if plain and ctx.trace:
            outs = []
            for h in block:
                d0 = time.perf_counter()
                outs.append(clean_html(h))
                doc_ms.append((time.perf_counter() - d0) * 1e3)
        elif plain:
            outs = [clean_html(h) for h in block]
        else:
            outs = [compose(h, spent) for h in block]
        wall = time.perf_counter() - t0
        cpu = time.process_time() - c0
        busy += wall
        attempted += 1
        if [_key(r) for r in outs] != reference[b]:
            failed += 1
        if plain:
            walls.append(wall)
            cpus.append(cpu)
            docs += len(block)
            in_bytes += sum(len(h) for h in block)
        else:
            traced_walls.append(wall)
        i += 1

    plain_wall = sum(walls)
    result = {
        "attempted": attempted,
        "failed": failed,
        "samples": {"wall_s": walls, "cpu_s": cpus},
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "cpu_s": median(cpus),
            "docs_per_s": docs / plain_wall,
            "mb_per_s_per_core": in_bytes / 1e6 / plain_wall,
            "worker_peak_rss_mb": python_peak_rss_mb(include_self=True),
        },
    }
    if ctx.trace:
        flat = [k for block in reference for k in block]
        layer = _layers(flat, spent, sum(traced_walls), doc_ms)
        layer.update({
            "doc_error_ratio": sum(k[1] is not None for k in flat) / len(flat),
            "trace.overhead_ratio": median(traced_walls) / median(walls),
        })
        result["per_layer"] = layer
    return result


def _layers(keys, spent, traced_wall, doc_ms) -> dict:
    layer = {"engine.%s_s" % n: s for n, s in zip(LAYERS, spent)}
    layer.update({
        "engine.unattributed_s": traced_wall - sum(spent),
        "engine.doc_p50_ms": percentile(doc_ms, 50),
        "engine.doc_p99_ms": percentile(doc_ms, 99),
        "engine.docs": len(keys),
        "engine.bytes_in": sum(k[2] for k in keys),
        "engine.bytes_out": sum(k[3] for k in keys),
        "engine.rules_fired": sum(n for k in keys for _r, n in k[4]),
    })
    return layer


def layers_of(pages):
    """``engine.*`` over ``pages``, for a workload whose engine runs inside
    Spark: one pass of ``clean_html`` timed per document, then one pass
    through the sub-layers.  Returns the metrics and whether the two
    passes agree byte for byte."""
    from htmlcleanup_spark.engine.clean import clean_html

    keys, doc_ms = [], []
    for h in pages:
        d0 = time.perf_counter()
        keys.append(_key(clean_html(h)))
        doc_ms.append((time.perf_counter() - d0) * 1e3)
    spent = [0.0] * len(LAYERS)
    t0 = time.perf_counter()
    composed = [_key(compose(h, spent)) for h in pages]
    wall = time.perf_counter() - t0
    return _layers(keys, spent, wall, doc_ms), composed == keys
