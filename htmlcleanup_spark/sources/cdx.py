"""CDX(J) crawl-index source: the lookup layer in front of WARC fetches.

Common Crawl (and every Wayback-style archive) publishes a per-crawl
URL index as CDXJ lines — ``<urlkey> <timestamp> <json>`` where the
urlkey is the SURT-canonicalized URL and the JSON block carries the
capture's url/mime/status/digest and its WARC byte coordinates
(filename/offset/length).  A 100-TB pipeline reads THIS index first —
deciding which captures to fetch, deduplicating by content digest,
picking the latest capture per URL — and only then issues ranged reads
into the WARC segments.

Scale shape: parsing is pure JVM (``substring_index`` splits +
``from_json``), so index scans stay in whole-stage codegen with
predicate pushdown intact on the parsed columns; ``latest_captures``
is ONE map-side-combined ``max_by`` aggregate keyed by urlkey (no
window, no sort — the idiom that survives a 10^11-row index); SURT
key generation is a codegen-resident expression chain (split + reverse
+ concat), zero Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["CDX_JSON_DDL", "surt_key", "parse_cdxj", "latest_captures",
           "fetch_plan", "merge_capture_indexes", "capture_history",
           "cluster_index"]

# capture-info JSON fields, as Common Crawl's cc-index ships them
# (numbers arrive as JSON strings there; parse to typed columns here)
CDX_JSON_DDL = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)


def surt_key(url: Column | str) -> Column:
    """SURT urlkey for a URL: ``com,example)/path?query`` — lowercase,
    scheme and leading ``www.`` dropped, host labels REVERSED and
    comma-joined, ``)`` before the path.  Sort-friendly: all captures
    of a host and its subdomains are lexicographic neighbors, which is
    what makes range queries over a sorted CDX index work.

    Query parameters are SORTED (the SURT normalization that makes
    ``?a=1&b=2`` and ``?b=2&a=1`` the same capture key).  Deliberate
    subset of the full spec (no per-scheme port defaults or session-id
    stripping) — each is another expression in this same chain when
    needed.  Pure JVM: lower/split/sort/reverse/concat,
    codegen-resident, zero Python.
    """
    u = F.lower(F.col(url) if isinstance(url, str) else url)
    # strip scheme, then fragment
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"#.*$", "")
    hostport = F.substring_index(u, "/", 1)
    host = F.regexp_replace(
        F.substring_index(hostport, ":", 1), r"^www\.", ""
    )
    port = F.when(
        hostport.contains(":"),
        F.concat(F.lit(":"), F.substring_index(hostport, ":", -1)),
    ).otherwise(F.lit(""))
    # path = everything from the first '/' (empty -> '/')
    path = F.when(
        F.instr(u, "/") > 0, F.substring(u, F.instr(u, "/"), F.lit(1 << 30))
    ).otherwise(F.lit("/"))
    # sort query params: base?k1=v1&k2=v2 with the k=v pairs ordered
    qpos = F.instr(path, "?")
    base = path.substr(F.lit(1), qpos - 1)
    qsorted = F.array_join(
        F.array_sort(F.split(path.substr(qpos + 1, F.lit(1 << 30)), "&")),
        "&",
    )
    path = F.when(
        qpos > 0, F.concat(base, F.lit("?"), qsorted)
    ).otherwise(path)
    rev_host = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    return F.concat(rev_host, port, F.lit(")"), path)


def parse_cdxj(lines: DataFrame, col: str = "value") -> DataFrame:
    """CDXJ text lines -> typed capture rows.

    ``substring_index`` peels the two space-delimited prefix fields
    (urlkey, 14-digit timestamp); ``from_json`` parses the remainder.
    Numeric WARC coordinates are cast to BIGINT.  Malformed JSON rows
    survive with NULL info fields (from_json's PERMISSIVE default) —
    an index scan must not die on one corrupt line.
    """
    v = F.col(col)
    rest = F.expr(
        "substring(%s, length(substring_index(%s, ' ', 2)) + 2)"
        % (col, col)
    )
    info = F.from_json(rest, CDX_JSON_DDL)
    return lines.select(
        F.substring_index(v, " ", 1).alias("urlkey"),
        F.substring_index(F.substring_index(v, " ", 2), " ", -1)
        .alias("cdx_ts"),
        info["url"].alias("url"),
        info["mime"].alias("mime"),
        info["status"].cast("int").alias("status"),
        info["digest"].alias("digest"),
        info["length"].cast("bigint").alias("length"),
        info["offset"].cast("bigint").alias("offset"),
        info["filename"].alias("filename"),
    )


def latest_captures(captures: DataFrame,
                    ok_only: bool = True) -> DataFrame:
    """Collapse a capture index to one row per urlkey: the LATEST
    capture's coordinates plus per-key history stats (n_captures,
    n_digests — how often the page changed).

    ONE logical aggregate keyed by urlkey, all branches map-side
    combined (``max_by`` on the timestamp, count, exact distinct) — no
    window function, so no per-key sort and no giant-partition risk on
    mega-hosts: a host's captures spread over urlkeys, and one urlkey's
    history is bounded by recrawl cadence.  Physically the exact
    distinct expands to two hash-keyed phases ((urlkey, digest) then
    urlkey — plan-gated); swap ``approx_count_distinct`` in to fuse
    them back to one when the exact digest count doesn't matter.
    ``ok_only`` drops non-200 captures BEFORE the shuffle (pushed-down
    filter)."""
    if ok_only:
        captures = captures.filter(F.col("status") == 200)
    return captures.groupBy("urlkey").agg(
        F.max("cdx_ts").alias("latest_ts"),
        F.expr("max_by(url, cdx_ts)").alias("url"),
        F.expr("max_by(digest, cdx_ts)").alias("digest"),
        F.expr("max_by(filename, cdx_ts)").alias("filename"),
        F.expr("max_by(offset, cdx_ts)").alias("offset"),
        F.expr("max_by(length, cdx_ts)").alias("length"),
        F.count("*").alias("n_captures"),
        F.countDistinct("digest").alias("n_digests"),
    )


def fetch_plan(captures: DataFrame, max_batch_bytes: int = 64 << 20,
               file_col: str = "filename", offset_col: str = "offset",
               length_col: str = "length") -> DataFrame:
    """Schedule the WARC fetches a capture list implies: group the
    ranged reads into per-file batches of ~``max_batch_bytes`` so one
    worker issues ONE ranged request (or sequential scan) per batch
    instead of one tiny GET per record — the step that turns a CDX
    query result into an efficient 100-TB fetch job.

    Batching is the repo's exclusive-prefix-sum idiom (pack_sequences):
    within a file, captures sort by offset and batch_id = prefix_bytes
    div max_batch_bytes — greedy fill, a record spanning the boundary
    starts the next batch's bytes but stays whole.  Returns one row
    per (filename, batch_id): record count, payload bytes, the covering
    byte span [read_start, read_end), and gap_bytes (span minus
    payload — what a single ranged read over-fetches vs per-record
    GETs; the scheduler's cost signal).

    Scale shape: the only shuffle is the window partitioned by
    ``file_col`` — ONE WARC file is ~1 GB / tens of thousands of
    records (Common Crawl segment convention), so per-file partitions
    are bounded by crawl-writer construction, never by corpus size;
    the groupBy reuses the same key and AQE coalesces the tail.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(file_col)
        .orderBy(F.col(offset_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_prev = F.coalesce(F.sum(length_col).over(w), F.lit(0))
    per = captures.select(
        file_col, offset_col, length_col, cum_prev.alias("_cum")
    ).select(
        file_col, offset_col, length_col,
        F.expr("_cum div %d" % max_batch_bytes).alias("batch_id"),
    )
    return per.groupBy(file_col, "batch_id").agg(
        F.count("*").alias("n_records"),
        F.sum(length_col).alias("payload_bytes"),
        F.min(offset_col).alias("read_start"),
        F.max(F.col(offset_col) + F.col(length_col)).alias("read_end"),
        (F.max(F.col(offset_col) + F.col(length_col))
         - F.min(offset_col) - F.sum(length_col)).alias("gap_bytes"),
    )


def merge_capture_indexes(old: DataFrame, new: DataFrame,
                          digests_col: str = "n_digests") -> DataFrame:
    """Recrawl index merge: combine two COLLAPSED capture indexes
    (latest_captures shape) into one — the incremental path that never
    reshuffles raw capture history: both inputs are 1-row-per-urlkey,
    so the merge moves ~|url universe| rows, not the 10^11-row capture
    log the old index summarizes.

    Per urlkey: the newer side's coordinates win (``max_by`` on
    latest_ts — 14-digit fixed-width strings, so lexicographic = 
    numeric), ``n_captures`` adds exactly, and distinct-digest counts
    add into ``n_digests_ub`` — an UPPER bound, since distinct counts
    are not mergeable without the digest sets (the exact alternative
    is an HLL sketch column; this keeps the oracle exact).  ONE
    urlkey-keyed map-combined aggregate over the union.
    """
    u = old.unionByName(new)
    return u.groupBy("urlkey").agg(
        F.max("latest_ts").alias("latest_ts"),
        F.expr("max_by(url, latest_ts)").alias("url"),
        F.expr("max_by(digest, latest_ts)").alias("digest"),
        F.expr("max_by(filename, latest_ts)").alias("filename"),
        F.expr("max_by(offset, latest_ts)").alias("offset"),
        F.expr("max_by(length, latest_ts)").alias("length"),
        F.sum("n_captures").alias("n_captures"),
        F.sum(digests_col).alias("n_digests_ub"),
    )


def capture_history(captures: DataFrame, key_col: str = "urlkey",
                    ts_col: str = "ts",
                    digest_col: str = "digest") -> DataFrame:
    """SCD-2 change history from a raw capture log: collapse each
    urlkey's (ts, digest) stream into content VERSIONS — one row per
    run of identical consecutive digests (gaps-and-islands), with the
    interval it was live.

    Returns (urlkey, version, valid_from, valid_to, digest,
    n_captures): ``version`` is 1-based per urlkey in capture order,
    ``valid_from`` the first capture that saw this digest,
    ``valid_to`` the next version's valid_from (NULL for the current
    version — the open interval), ``n_captures`` how many unchanged
    recrawls the run collapses.  This is the recrawl ledger a
    change-frequency scheduler (recrawl_priority) and an incremental
    extractor (process only rows where version is new) both read.

    Scale shape (10^11 captures): every window is partitioned by
    urlkey — billions of SMALL partitions (a url has tens of captures),
    so the sort-within-group is bounded and skew-free; no global or
    few-key window anywhere (the mixture_sample anti-pattern).  The
    island id is the running sum of change flags INSIDE the same
    urlkey window, so lag/flag/sum all reuse ONE exchange; the
    groupBy that follows is keyed (urlkey, version) — same leading
    key, map-combined.  Digest compare, not content compare: the
    10^11-row log never touches page bytes.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("urlkey").orderBy("_ts")
    chg = F.when(
        F.lag("digest").over(w).isNull()
        | (F.lag("digest").over(w) != F.col("digest")),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = (
        captures.select(
            F.col(key_col).alias("urlkey"),
            F.col(ts_col).alias("_ts"),
            F.col(digest_col).alias("digest"),
        )
        .withColumn("_chg", chg)
        .withColumn(
            "version",
            F.sum("_chg").over(
                Window.partitionBy("urlkey").orderBy("_ts")
                .rowsBetween(Window.unboundedPreceding, 0)
            ).cast("int"),
        )
    )
    islands = runs.groupBy("urlkey", "version").agg(
        F.min("_ts").alias("valid_from"),
        F.first("digest").alias("digest"),
        F.count("*").alias("n_captures"),
    )
    nxt = Window.partitionBy("urlkey").orderBy("version")
    return islands.select(
        "urlkey", "version", "valid_from",
        F.lead("valid_from").over(nxt).alias("valid_to"),
        "digest", "n_captures",
    )


def _enumerate_sorted(captures: DataFrame,
                      num_ranges: int | None = None) -> DataFrame:
    """Stages 1-2 of the distributed enumerate (see cluster_index):
    range-sort on (urlkey, ts), then a partition-local line number.
    ``monotonically_increasing_id`` puts the partition id in the upper
    31 bits and the row's index within the partition in the lower 33, so
    after the sort the local line number is the id minus
    ``partition << 33``, plus one — a JVM expression, no Python.  It is
    nondeterministic across re-executions (range bounds are sampled), so
    cluster_index pins it with an eager checkpoint.  Split out so plan
    tests can gate the pre-checkpoint physical plan (the checkpoint cuts
    lineage)."""
    n_parts = num_ranges or captures.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    pid = F.spark_partition_id()
    return (
        captures.select("urlkey", F.col("ts").cast("long").alias("ts"))
        .repartitionByRange(int(n_parts), "urlkey", "ts")
        .sortWithinPartitions("urlkey", "ts")
        .select(
            "urlkey", "ts",
            (F.monotonically_increasing_id()
             - F.shiftleft(pid.cast("long"), 33) + 1).alias("_local_rn"),
            pid.alias("_pid"),
        )
    )


def cluster_index(captures: DataFrame, every: int = 3000,
                  num_ranges: int | None = None) -> DataFrame:
    """Secondary index over the sorted CDX — Common Crawl's
    ``cluster.idx``: the main index is written in (urlkey, ts) order
    and every ``every``-th line starts a new block; the secondary
    index holds one row per block (its first key and line span) so a
    range lookup binary-searches ~300k index rows instead of scanning
    the 10^11-line main index.

    Returns (block, first_urlkey, first_ts, n_lines), block 0-based in
    key order.

    Scale shape — distributed enumerate WITHOUT a global window: a
    ``ROW_NUMBER() OVER (ORDER BY urlkey, ts)`` would funnel the whole
    index through one reduce task, so instead:
    1. range-repartition + sort within partitions on (urlkey, ts) —
       Spark's distributed sort (sampled range bounds, skew spread
       across ``num_ranges`` tasks);
    2. each row's partition-local line number is read off
       ``monotonically_increasing_id`` (its low 33 bits count rows
       within the partition), zero shuffle, no Python;
    3. per-partition row counts (a ~|partitions|-row aggregate on the
       pinned frame) prefix-sum on the driver into exclusive offsets —
       bounded by task count, never data size — and broadcast-join
       back, making the line number global: ranges are disjoint, so
       offset + local rank is the exact global rank;
    4. block id = (rn - 1) div every; the final agg is block-keyed
       (min_by first key, count) — ~n/every rows.
    The same offsets close each index SHARD's byte ranges at write
    time; this operator keys blocks by line number, the shape the
    lookup needs.
    """
    local = _enumerate_sorted(captures, num_ranges).localCheckpoint(
        eager=True
    )

    counts = sorted(
        (r["_pid"], r["_n"])
        for r in local.groupBy("_pid").agg(F.count("*").alias("_n"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = local.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off long"
    )

    rn = F.col("_off") + F.col("_local_rn")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("block", ((rn - 1) / every).cast("long"))
        .withColumn("_rn", rn)
        .groupBy("block")
        .agg(
            F.expr("min_by(urlkey, _rn)").alias("first_urlkey"),
            F.expr("min_by(ts, _rn)").alias("first_ts"),
            F.count("*").alias("n_lines"),
        )
    )
