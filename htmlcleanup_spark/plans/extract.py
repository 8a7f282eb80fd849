"""The extract job: the reference's whole CLI, re-expressed as one Spark plan.

Reference lifecycle (one doc: cleanup_msfp.py:35-302) becomes, per the north
rule: Iceberg/parquet scan -> resume anti-join -> per-url dedup window ->
round-robin repartition -> Arrow-batched cascade -> observe counters
-> MERGE/append + per-partition lineage manifest.

Scale notes (designed for 10^12 docs / 1000 executors, tested on local[4]
and local[32]):

- column pruning: only (url, warc_ts, html, lang) are selected before the
  UDF stage; Catalyst pushes the projection into the scan.
- resume: the committed output itself is the checkpoint — the done-set is
  a column-pruned scan of the output's url column (Iceberg: the current
  snapshot; parquet fallback: data/, whose v1 output committer only exposes
  job-committed files).  A LEFT ANTI join skips done urls; NO broadcast
  hint — the done-set grows with the output table (unbounded at 10^12
  docs), so AQE must pick broadcast vs SMJ from its measured size.
- errored docs are in the done-set by default (a deterministic parser
  crash recurs on every resume); pass ``retry_errors=True`` to re-attempt
  them — each retry appends another attempt row for that url, so readers
  of the parquet fallback take the last attempt per url (the Iceberg MERGE
  path upserts and has no such duplicates).
- dedup: keep the newest warc_ts per url.  This shuffles by url once.
- cascade partitioning: every Python task pays a fixed set-up cost before
  its first batch, whatever its input size — about 0.08 s of CPU on
  PySpark 4.1.2 / Python 3.11 once ``functions/udf.worker_once`` has run
  in the worker (0.35 s before it).  The default is two cascade tasks per
  core, one ``repartition(2 * defaultParallelism)``: enough that one slow
  task does not leave a core idle for the rest of the stage; finer
  partitions cost CPU and gained no wall time (numbers in
  :func:`partition_for_cascade`).  The former separate class for big
  pages is gone: at this task count it ran no faster.  The default
  ignores input size: at cluster scale two tasks per core make each task
  hours long, and a lost executor re-runs all of them, so callers still
  pass ``num_partitions`` there.
- the cascade is stateless per document: no shuffle after repartition, the
  map and the write pipeline fuse into one stage.
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.rules import DEFAULT_RULES, RuleConfig
from ..functions.udf import clean_pages
from ..sources.pages import read_pages


def dedup_latest_by_url(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (Common-Crawl recrawls).

    Window + row_number over (url, warc_ts desc); ties broken by warc_ts only
    — deterministic because (url, warc_ts) is unique in WARC data.
    """
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def partition_for_cascade(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Spread the pages over ``num_partitions`` cascade tasks, round-robin.

    Every Python task pays a fixed set-up cost before its first batch,
    whatever its input.  On a 4-core VM (PySpark 4.1.2, Python 3.11), an
    identity ``doc_map`` costs 0.08 s of core time per task (64 tasks
    against 8, JVM side included); it cost 0.35 s while every task's
    ``importlib.invalidate_caches()`` re-read Spark's zips, which
    :func:`~htmlcleanup_spark.functions.udf.worker_once` now stops after
    a worker's first task.  The task count trades that fixed cost against
    the cores a straggler leaves idle at the end of the stage.  Over 1,200
    pages (about 11 MB, the ``extract_fresh`` corpus of two perfbench
    seeds) on the same VM, in one warm session with the layouts
    interleaved, the medians of five jobs were (wall /
    process-tree CPU):

    ======  ============  ============
    tasks   seed 21       seed 22
    ======  ============  ============
    4       3.37 / 10.45  3.59 / 10.85
    8       3.96 / 11.60  3.41 / 10.33
    16      3.84 / 12.39  3.67 / 11.33
    24      4.10 / 13.48  3.98 / 13.53
    ======  ============  ============

    Finer partitions cost CPU and gain no wall time.  One task per core
    won on one corpus and lost on the other, so the default stays at two
    per core.

    There is no separate big-page class.  The former plan round-robined
    pages of 128 KB and over into partitions of their own, placed first in
    a union.  At 8 tasks a 4 + 4 split measured 5.2 s / 16.5 s, no better
    than one round-robin, so its second exchange and the union went.
    Round-robin balances counts, not bytes: a task that draws several
    0.5 MB pages still runs longest (1.5x the median task in a traced
    8-task run).
    """
    return pages.repartition(num_partitions)


def plan_extract(
    spark: SparkSession,
    source: str | DataFrame,
    output_path: str | None = None,
    rules: RuleConfig = DEFAULT_RULES,
    num_partitions: int | None = None,
    resume: bool = True,
    retry_errors: bool = False,
    lang_filter: str | None = None,
) -> DataFrame:
    """The extract plan up to the cascade's output (functions/udf.clean_pages
    rows), before any counter or sink; :func:`run_extract` documents the
    arguments."""
    pages = source if isinstance(source, DataFrame) else read_pages(spark, source)

    df = pages.select("url", "warc_ts", "html", "lang")
    if lang_filter:
        # Plain column predicate: pushes down to the scan.
        df = df.filter(F.col("lang") == lang_filter)

    if resume and output_path:
        done = _read_done(spark, output_path, retry_errors=retry_errors)
        if done is not None:
            # No broadcast hint: the done-set is the whole committed output
            # and grows without bound; AQE broadcasts it only while its
            # measured size stays under the threshold, else SMJ.
            df = df.join(done, "url", "left_anti")

    df = dedup_latest_by_url(df)
    if num_partitions is None:
        num_partitions = 2 * spark.sparkContext.defaultParallelism
    df = partition_for_cascade(df, num_partitions)

    # Cap rows per JVM->Python Arrow batch for the workers' peak RSS.  The
    # bytes are bounded already: Spark cuts each batch at
    # spark.sql.execution.arrow.maxBytesPerBatch (64 MiB by default) and
    # the shell slices it to 32 MB per Python call (functions/udf.py).  At
    # two tasks per core a 256-row cap let one batch hold a whole
    # partition and raised the workers' peak RSS by 4%; 64 rows kept it
    # within 2% at the same CPU.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    return clean_pages(df, rules)


def run_extract(
    spark: SparkSession,
    source: str | DataFrame,
    output_path: str | None = None,
    output_table: str | None = None,
    rules: RuleConfig = DEFAULT_RULES,
    num_partitions: int | None = None,
    resume: bool = True,
    retry_errors: bool = False,
    lang_filter: str | None = None,
    sink: str = "append",
) -> dict:
    """Run the extraction pipeline; returns the run's counter dict.

    Writes results to ``output_table`` via Iceberg MERGE when a catalog table
    is given, else under ``output_path`` with ``sink`` semantics:

    - ``"append"``: parquet append; each run stamps an ``attempt_ts``
      column so re-attempt rows for the same url are distinguishable —
      read back with :func:`read_latest_attempts` (newest attempt wins).
    - ``"merge"``: the no-catalog upsert twin of the Iceberg MERGE
      (:func:`merge_parquet`): matched urls are replaced, new urls
      inserted, committed as a new snapshot directory — readers never see
      duplicate urls or partial writes.

    ``num_partitions`` is the cascade's task count; the default is two per
    core (:func:`partition_for_cascade`).  With neither output, the
    counters are still computed (dry run over the full plan).
    """
    result = plan_extract(
        spark, source, output_path=output_path, rules=rules,
        num_partitions=num_partitions, resume=resume,
        retry_errors=retry_errors, lang_filter=lang_filter,
    )

    obs = Observation("extract_metrics")
    result = result.observe(
        obs,
        F.count("*").alias("docs_out"),
        F.count("error").alias("docs_error"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    )

    t0 = time.time()
    if output_table:
        _merge_into_iceberg(spark, result, output_table)
    elif output_path and sink == "merge":
        merge_parquet(spark, result, output_path)
    elif output_path:
        _write_parquet_with_lineage(spark, result, output_path)
    else:
        result.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    metrics = dict(obs.get)
    metrics["wall_sec"] = wall
    metrics["docs_ok"] = metrics["docs_out"] - metrics["docs_error"]
    return metrics


def _read_done(spark: SparkSession, output_path: str,
               retry_errors: bool = False) -> DataFrame | None:
    """The resume checkpoint: urls already present in the COMMITTED output.

    Deriving the done-set from the committed data itself (not a separate
    manifest) makes resume crash-safe: there is no window where a row is
    committed in one place but missing from the other — the parquet job
    commit is the single commit point (append layout: data/'s v1 output
    committer; merge layout: the newest snapshot dir with a _SUCCESS
    marker).  With ``retry_errors`` the urls whose last run errored are
    excluded, so they are re-attempted.
    """
    src = _current_snapshot(spark, output_path)
    if src is None:
        src = output_path + "/data"
        if not _hadoop_ls(spark, src):
            # A fresh start: reading the missing path would make Spark log
            # a PATH_NOT_FOUND error for a normal first run.
            return None
    try:
        done = spark.read.parquet(src).select("url", "error")
    except AnalysisException:
        # No committed output yet: a data/ holding only an uncommitted
        # _temporary.  Any other failure (a corrupt file) must stop the
        # run, or resume would re-clean and re-append every url.
        return None
    if retry_errors:
        done = done.filter(F.col("error").isNull())
    return done.select("url")


# ---------------------------------------------------------------------------
# parquet sinks: append (+attempt_ts) and snapshot-merge (MERGE-twin)
# ---------------------------------------------------------------------------

def _hadoop_ls(spark: SparkSession, path: str) -> list[str]:
    """Child names of ``path`` via the Hadoop FileSystem API — works on any
    storage the parquet writer supports (HDFS, S3A, local), unlike
    os.listdir which binds the layout to the driver's POSIX disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [str(st.getPath().getName()) for st in fs.listStatus(hpath)]


def _current_snapshot(spark: SparkSession, output_path: str) -> str | None:
    """Newest COMMITTED snapshot dir of a merge-sink layout, else None.

    Commit protocol: a snapshot is visible iff its parquet job committed
    (the _SUCCESS marker).  A run that crashes mid-write leaves no marker,
    so readers and resume keep seeing the previous snapshot — the same
    single-commit-point property the Iceberg snapshot gives, minus
    concurrent-writer arbitration (use a real catalog for that).
    """
    snaps = sorted(
        n for n in _hadoop_ls(spark, output_path)
        if n.startswith("snap-")
    )
    for name in reversed(snaps):
        if "_SUCCESS" in _hadoop_ls(spark, output_path + "/" + name):
            return output_path + "/" + name
    return None


def upsert_by_url(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """The MERGE contract as a pure DataFrame transform: matched urls take
    the update row (WHEN MATCHED THEN UPDATE SET *), unmatched update rows
    are inserted (WHEN NOT MATCHED THEN INSERT *), and the result never
    holds two rows for one url — exactly :func:`merge_sql`'s semantics,
    executable without a catalog.

    One pass over each side: the rows are tagged by origin, unioned, and
    the update wins per url.  ``updates`` is the cascade's output, so
    reading it twice (an anti-join on its urls, then a union) would run
    the cascade twice; persisting it instead would pin every cleaned text.
    The price is one shuffle of the table by url; :func:`merge_parquet`
    rewrites the whole table on every run anyway."""
    w = Window.partitionBy("url").orderBy(F.col("_upd").desc())
    return (
        existing.withColumn("_upd", F.lit(False))
        .unionByName(updates.select(*existing.columns)
                     .withColumn("_upd", F.lit(True)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_upd", "_rn")
    )


def merge_parquet(spark: SparkSession, result: DataFrame,
                  output_path: str) -> None:
    """No-catalog upsert sink: the Iceberg-MERGE twin over plain parquet.

    Reads the current snapshot, applies :func:`upsert_by_url`, and writes
    the merged table as the NEXT snapshot directory (never overwriting
    what it reads).  The parquet job commit (_SUCCESS) is the atomic
    commit point; after it, :func:`expire_snapshots` keeps the newest two
    committed snapshots (the one just written and the one it replaced),
    so the layout holds at most two table copies.
    Reference sink shape: cleanup_msfp.py:300-302 (write the cleaned doc
    back in one step).

    Cost honesty: each merge REWRITES the whole table (kept ∪ updates) —
    O(table) I/O per run, vs Iceberg MERGE which rewrites only the files
    holding matched rows.  This sink exists to prove the upsert contract
    and give correct resumable semantics without a catalog; at 10^12 rows
    use the real Iceberg path.
    """
    cur = _current_snapshot(spark, output_path)
    if cur is not None:
        merged = upsert_by_url(spark.read.parquet(cur), result)
        nxt = int(cur.rsplit("snap-", 1)[1]) + 1
    else:
        merged, nxt = result, 0
    merged.write.mode("overwrite").parquet(
        output_path + "/snap-%06d" % nxt
    )
    expire_snapshots(spark, output_path)


def expire_snapshots(spark: SparkSession, output_path: str,
                     keep_last: int = 2) -> list[str]:
    """Iceberg ``expire_snapshots`` equivalent for the merge-sink layout:
    delete all but the newest ``keep_last`` COMMITTED snapshot dirs.

    Every :func:`merge_parquet` run writes a full table copy; this is the
    bounded-retention pass it runs after each commit.  Safety rules:

    - the current snapshot (newest committed) is NEVER deleted, so
      ``keep_last`` is clamped to >= 1;
    - in-flight dirs (no ``_SUCCESS`` marker — a writer may be mid-commit)
      are NEVER touched;
    - deletion order is oldest-first, so a crash mid-expire leaves a
      contiguous suffix of history, never a hole below the current
      snapshot.

    Uses the Hadoop FileSystem API (any storage, not just POSIX).
    Returns the deleted snapshot names.
    """
    keep_last = max(int(keep_last), 1)
    committed = [
        n
        for n in sorted(
            n for n in _hadoop_ls(spark, output_path)
            if n.startswith("snap-")
        )
        if "_SUCCESS" in _hadoop_ls(spark, output_path + "/" + n)
    ]
    doomed = committed[:-keep_last] if len(committed) > keep_last else []
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(output_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for name in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            output_path + "/" + name), True)
    return doomed


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Read back an extract output under either sink layout, duplicate-free:
    merge layout -> the current snapshot (unique urls by construction);
    append layout -> newest attempt per url (:func:`read_latest_attempts`).
    """
    snap = _current_snapshot(spark, output_path)
    if snap is not None:
        return spark.read.parquet(snap)
    return read_latest_attempts(spark, output_path)


def read_latest_attempts(spark: SparkSession, output_path: str) -> DataFrame:
    """Newest attempt per url from an append-sink layout (retry_errors
    re-runs append a second attempt row per retried url; attempt_ts makes
    'latest' well-defined — rows written before the column existed sort
    as the oldest attempt via the null-last ordering)."""
    df = spark.read.parquet(output_path + "/data")
    if "attempt_ts" not in df.columns:
        return df
    w = Window.partitionBy("url").orderBy(F.col("attempt_ts").desc_nulls_last())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _write_parquet_with_lineage(spark: SparkSession, result: DataFrame,
                                output_path: str) -> None:
    """Dev/sandbox sink: parquet append + per-partition lineage manifest.

    data/ doubles as the resume checkpoint (see _read_done); _lineage is
    advisory metrics only, so a crash between the two writes cannot cause
    re-emission.  Every row is stamped with this run's ``attempt_ts`` so a
    retried url's attempts stay distinguishable and readers can select the
    newest (read_latest_attempts).  At cluster scale the equivalent is a
    single Iceberg MERGE commit whose snapshot IS the checkpoint.
    """
    import datetime as _dt

    attempt = _dt.datetime.now(_dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )
    out = result.withColumn("attempt_ts", F.lit(attempt)).withColumn(
        "part_id", F.spark_partition_id()
    )
    out.persist()
    try:
        out.drop("part_id").write.mode("append").parquet(output_path + "/data")
        lineage = out.groupBy("part_id").agg(
            F.count("*").alias("docs_in"),
            F.count("text").alias("docs_out"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
            (F.sum("bytes_in") - F.sum("bytes_out")).alias("bytes_stripped"),
        )
        lineage.write.mode("append").parquet(output_path + "/_lineage")
    finally:
        out.unpersist()


def merge_sql(table: str, source_view: str = "_extract_src") -> str:
    """The Iceberg MERGE statement (upsert by url) — kept as a pure function
    so its shape is unit-testable without an Iceberg catalog (none can be
    installed in this sandbox; the runtime jar needs the network)."""
    return f"""
        MERGE INTO {table} t
        USING {source_view} s
        ON t.url = s.url
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """


def _merge_into_iceberg(spark: SparkSession, result: DataFrame,
                        table: str) -> None:
    """Iceberg MERGE sink (requires an Iceberg catalog on the cluster).

    The MERGE commit is one atomic snapshot: it is simultaneously the data
    write and the resume checkpoint (reference sink shape:
    cleanup_msfp.py:300-302 writes the cleaned doc back in one step)."""
    result.createOrReplaceTempView("_extract_src")
    spark.sql(merge_sql(table))


def _ship_package(spark: SparkSession) -> None:
    """Ship htmlcleanup_spark to the python workers (what --py-files does on
    a cluster); needed when the job is launched as a bare script so the
    cascade UDF unpickles on executors.

    The zip is named by its content hash: addPyFile refuses a file whose
    basename is already registered with different bytes, so a fixed name
    ("engine.zip") collides with the archive spark-submit --py-files
    already shipped — the hashed name makes re-shipping idempotent-or-
    distinct, never a crash (found by driving the real spark-submit path).
    """
    import hashlib
    import tempfile
    import zipfile

    import htmlcleanup_spark

    pkg_root = os.path.dirname(os.path.dirname(
        os.path.abspath(htmlcleanup_spark.__file__)))
    tmpd = tempfile.mkdtemp(prefix="hc_spark_")
    zpath = os.path.join(tmpd, "engine.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg_dir = os.path.join(pkg_root, "htmlcleanup_spark")
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, pkg_root))
    with open(zpath, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()[:12]
    hashed = os.path.join(tmpd, "hc_engine_%s.zip" % digest)
    os.rename(zpath, hashed)
    spark.sparkContext.addPyFile(hashed)


def main(argv=None):
    p = argparse.ArgumentParser(
        description="HtmlCleanup-semantics extraction over a pages table "
        "(spark-submit --py-files engine.zip jobs/extract.py ...)"
    )
    p.add_argument("--source", required=True,
                   help="pages parquet path or catalog table")
    p.add_argument("--output-path", default=None)
    p.add_argument("--output-table", default=None)
    p.add_argument("--lang", default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--retry-errors", action="store_true",
                   help="re-attempt urls whose previous run errored")
    p.add_argument("--sink", choices=("append", "merge"), default="append",
                   help="parquet sink: append (+attempt_ts) or snapshot "
                        "upsert (the no-catalog MERGE twin)")
    args = p.parse_args(argv)

    spark = (
        SparkSession.builder.appName("htmlcleanup-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    _ship_package(spark)
    metrics = run_extract(
        spark,
        args.source,
        output_path=args.output_path,
        output_table=args.output_table,
        num_partitions=args.partitions,
        resume=not args.no_resume,
        retry_errors=args.retry_errors,
        lang_filter=args.lang,
        sink=args.sink,
    )
    print(metrics)
    return metrics


if __name__ == "__main__":
    main()
