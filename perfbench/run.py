#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (all closed loop, one client; see README.md in this directory):
``extract_fresh`` and ``corpus_recipes``, the two BENCHMARK.json lists, and
``engine_msfp`` and ``extract_resume``, which run by hand only.

With ``--trace 0`` the result carries every end-to-end metric; with
``--trace 1`` every per-layer metric (a layer a workload does not run reads
0).  Before the last line, stdout lists each metric with its unit and the
run's samples; every other byte of output (Spark, the JVM, Python workers)
goes to a log under ``.perfbench_work/logs``.  A run whose output check
fails counts as a failed operation and reports ``"correct": false``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from types import SimpleNamespace

from recipes_wl import RECIPES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("docs_per_s", "1/s"),
    ("mb_per_s_per_core", "MB/s"),
    ("worker_peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("engine.decode_s", "s"),
    ("engine.preparse_s", "s"),
    ("engine.parse_s", "s"),
    ("engine.cascade_s", "s"),
    ("engine.serialize_s", "s"),
    ("engine.unattributed_s", "s"),
    ("engine.doc_p50_ms", "ms"),
    ("engine.doc_p99_ms", "ms"),
    ("engine.docs", "count"),
    ("engine.bytes_in", "bytes"),
    ("engine.bytes_out", "bytes"),
    ("engine.rules_fired", "count"),
    ("udf.python_run_s", "s"),
    ("udf.python_start_s", "s"),
    ("udf.python_init_s", "s"),
    ("udf.bytes_to_python", "bytes"),
    ("udf.bytes_from_python", "bytes"),
    ("udf.cascade_passes", "ratio"),
    ("udf.task_max_over_median", "ratio"),
    ("extract.jobs", "count"),
    ("extract.stages", "count"),
    ("extract.exchanges", "count"),
    ("extract.shuffle_write_bytes", "bytes"),
    ("extract.shuffle_read_bytes", "bytes"),
    ("extract.spill_bytes", "bytes"),
    ("extract.jvm_cpu_s", "s"),
    ("extract.dedup_dropped", "count"),
    ("extract.done_rows", "count"),
    ("extract.sink_bytes", "bytes"),
    ("extract.unattributed_s", "s"),
    ("doc_error_ratio", "ratio"),
) + tuple(
    ("recipe.%s.%s" % (r, m), unit)
    for r in RECIPES
    for m, unit in (("wall_s", "s"), ("jobs", "count"),
                    ("exchanges", "count"), ("shuffle_bytes", "bytes"),
                    ("rows_out", "count"))
) + (
    ("host.spin_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)


WORKLOADS = ("engine_msfp", "extract_fresh", "extract_resume",
             "corpus_recipes")


def _run_workload(name: str, ctx):
    if name == "engine_msfp":
        import engine_wl
        return engine_wl.run(ctx)
    if name == "corpus_recipes":
        import recipes_wl
        return recipes_wl.run(ctx)
    import extract_wl
    return extract_wl.run(ctx, resume=name == "extract_resume")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "htmlcleanup_spark",
                                       "__init__.py")):
        print("perfbench: htmlcleanup_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import adopt_orphans, host_spin_s, reap_all

    adopt_orphans()
    spin = host_spin_s()

    # log armour: Spark, the JVM and the Python workers inherit fds 1 and 2,
    # so both go to the run's log; results go to the saved stdout
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-%d-%d.log" % (
        args.workload, args.seed, args.trace))
    real_out = os.fdopen(os.dup(1), "w")
    real_err = os.fdopen(os.dup(2), "w")
    log = open(log_path, "w")
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)

    ctx = SimpleNamespace(
        root=ROOT, work=WORK, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), cores=len(os.sched_getaffinity(0)))
    try:
        res = _run_workload(args.workload, ctx)
    except Exception:  # noqa: BLE001 — report and fail the run, no result
        traceback.print_exc()
        sys.stderr.flush()
        print("perfbench: %s failed; log: %s" % (args.workload, log_path),
              file=real_err)
        with open(log_path) as f:
            real_err.write("".join(f.readlines()[-30:]))
        real_err.flush()
        return 1
    finally:
        reap_all()
        sys.stdout.flush()
        sys.stderr.flush()

    e2e = res["end_to_end"]
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "time": time.time(), "host.spin_s": spin,
            "attempted": res["attempted"], "failed": res["failed"],
            "samples": res["samples"], "metrics": e2e,
        }) + "\n")

    if args.trace:
        layer = dict(res["per_layer"])
        layer["host.spin_s"] = spin
        names = PER_LAYER
        values = {n: float(layer.get(n, 0.0)) for n, _u in names}
    else:
        names = END_TO_END
        values = {n: float(e2e[n]) for n, _u in names}
    for n, unit in names:
        print("%-44s %.6g %s" % (n, values[n], unit), file=real_out)
    print("samples %s host.spin_s %.6g" % (
        json.dumps(res["samples"]), spin), file=real_out)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }), file=real_out)
    real_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
