"""Shared machinery of the benchmark: host probes, process-tree accounting,
the Spark session, and the REST tracer that reads Spark's own metrics.

Nothing here touches program code: the REST tracer only reads what Spark's
status store already records (``/api/v1`` jobs, stages and SQL executions).
"""

from __future__ import annotations

import ctypes
import datetime
import json
import math
import os
import shutil
import signal
import statistics
import time
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# statistics and host probes
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def host_spin_s() -> float:
    """A fixed pure-Python loop, median of three timings.  Moves with host
    speed only, so a slow run next to a slow spin points at the machine."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return median(times)


# ---------------------------------------------------------------------------
# process tree: CPU time and peak RSS from /proc
# ---------------------------------------------------------------------------

def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime ticks) of one process, or None."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); utime is field 14 -> index 11
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_pids(root: int | None = None) -> set[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the whole process tree: every live process's own time
    plus the time of its reaped children (so exited workers still count)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / CLK_TCK


def _hwm_mb(pid: int) -> float:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def python_peak_rss_mb(include_self: bool) -> float:
    """Largest peak RSS (VmHWM) among the Python processes of this tree:
    the Spark Python workers, or this process when it runs the engine."""
    me = os.getpid()
    pids = [p for p in tree_pids(me) if (p != me or include_self)]
    return max((_hwm_mb(p) for p in pids if _is_python(p)), default=0.0)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``).  Spark's launcher script leaves a shell
    child under the JVM that the JVM never waits for; when the JVM exits,
    that process comes to us, and ``reap_all`` can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def reap_all() -> None:
    """Kill and wait for every child left, adopted orphans included."""
    while True:
        for pid in tree_pids() - {os.getpid()}:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait for processes to exit; SIGKILL whatever outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    live = set(pids)
    while live:
        live = {p for p in live if _alive(p)}
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:  # our own zombie child: reap it
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ---------------------------------------------------------------------------
# the Spark session
# ---------------------------------------------------------------------------

def start_spark(root: str, work: str, cores: int, ui: bool):
    """A local session confined to the checkout: temp, shuffle and warehouse
    dirs live under ``work``; the UI (and its REST API) only when tracing.
    Python workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = root
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[%d]" % cores)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=" + tmp)
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        # as bench.py: keep accumulator references so the ContextCleaner
        # never logs a trace per collected checkpoint
        .config("spark.cleaner.referenceTracking", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for all
    of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # the JVM and the Python daemon and workers it forked
    jvm_tree = tree_pids(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to SIGKILL below
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(jvm_tree)


# ---------------------------------------------------------------------------
# Spark's REST API: per-action deltas of jobs, stages and SQL executions
# ---------------------------------------------------------------------------

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _quantity(text: str) -> float:
    num, _, unit = text.strip().partition(" ")
    value = float(num.replace(",", ""))
    unit = unit.strip()
    return value * _TIME.get(unit, _SIZE.get(unit, 1))


def parse_metric(value: str):
    """A formatted SQL metric -> (total, min, med, max); the three spread
    figures are None when Spark printed a plain total (e.g. ``19 ms``)."""
    body = value.split("\n", 1)[-1]
    head, _, rest = body.partition(" (")
    total = _quantity(head)
    if not rest:
        return total, None, None, None
    parts = [p.strip() for p in rest.split(",")]
    lo, med, hi = (_quantity(p.split(" (")[0]) for p in parts[:3])
    return total, lo, med, hi


def _ts(s: str) -> float:
    return datetime.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


_PY_RUN = "time to run Python workers"


class RestTrace:
    """Reads one action's jobs, stages and SQL executions from the local UI.

    ``mark()`` before an action, ``collect(mark)`` after it: everything with
    a higher id than the mark belongs to the action.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = "%s/api/v1/applications/%s" % (
            sc.uiWebUrl.rstrip("/"), sc.applicationId)

    # the UI is on localhost: never route it through a proxy from the env
    _open = urllib.request.build_opener(urllib.request.ProxyHandler({})).open

    def _get(self, path: str):
        with self._open(self.base + path, timeout=30) as r:
            return json.load(r)

    def mark(self):
        jobs = self._get("/jobs")
        sqls = self._get("/sql?details=false&length=1000000")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((int(e["id"]) for e in sqls), default=-1))

    def collect(self, mark) -> dict:
        job0, sql0 = mark
        deadline = time.monotonic() + 20
        while True:  # the status store trails the action by a few events
            jobs = [j for j in self._get("/jobs") if j["jobId"] > job0]
            sqls = [e for e in self._get(
                "/sql?details=true&planDescription=false&offset=%d"
                "&length=1000000" % (sql0 + 1)) if int(e["id"]) > sql0]
            settled = (all(j["status"] != "RUNNING" for j in jobs)
                       and all(e["status"] != "RUNNING" for e in sqls))
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        return summarize(jobs, stages, sqls)


def summarize(jobs, stages, sqls) -> dict:
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "jobs_union_s": _union_s(
            (_ts(j["submissionTime"]), _ts(j["completionTime"]))
            for j in jobs if "completionTime" in j),
        "jvm_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "exchanges": 0,
        "python_run_s": 0.0,
        "python_start_s": 0.0,
        "python_init_s": 0.0,
        "bytes_to_python": 0.0,
        "bytes_from_python": 0.0,
        "map_in_arrow_rows": 0,
        "task_max_over_median": 0.0,
    }
    for e in sqls:
        for node in e.get("nodes", ()):
            name = node["nodeName"]
            if name in ("Exchange", "BroadcastExchange"):
                out["exchanges"] += 1
            m = {x["name"]: x["value"] for x in node.get("metrics", ())}
            if _PY_RUN not in m:
                continue
            total, _lo, med, hi = parse_metric(m[_PY_RUN])
            out["python_run_s"] += total
            if med:
                out["task_max_over_median"] = max(
                    out["task_max_over_median"], hi / med)
            for key, metric in (
                ("python_start_s", "time to start Python workers"),
                ("python_init_s", "time to initialize Python workers"),
                ("bytes_to_python", "data sent to Python workers"),
                ("bytes_from_python", "data returned from Python workers"),
            ):
                if metric in m:
                    out[key] += parse_metric(m[metric])[0]
            if name == "MapInArrow" and "number of output rows" in m:
                out["map_in_arrow_rows"] += int(
                    parse_metric(m["number of output rows"])[0])
    return out
