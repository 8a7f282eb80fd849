"""Structured Streaming variant of the extract job.

The cascade is stateless per document, so the streaming plan is the batch
plan minus the global dedup window: readStream (file source or Kafka-shaped)
-> Arrow-batched cascade -> writeStream with checkpointing.  Exactly-once
lands via the sink's checkpoint + idempotent MERGE key (url, warc_ts).

Late recrawls are handled downstream: either a watermarked
``dropDuplicatesWithinWatermark`` on url (bounded state) here, or the batch
MERGE keeps the latest warc_ts at the table level.  We default to the MERGE
semantics because an unbounded per-url window is state the 10^12-doc scale
can't hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine.rules import DEFAULT_RULES, RuleConfig
from ..functions.udf import clean_pages, worker_once
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, source_dir: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over a growing pages parquet directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def extract_stream(pages: DataFrame, rules: RuleConfig = DEFAULT_RULES,
                   watermark_dedup: bool = False) -> DataFrame:
    """The streaming extract transform (stateless map; optional bounded
    url-dedup with a 1-hour watermark)."""
    df = pages.select("url", "warc_ts", "html", "lang")
    if watermark_dedup:
        df = df.withWatermark("warc_ts", "1 hour").dropDuplicatesWithinWatermark(
            ["url"]
        )
    return clean_pages(df, rules)


def dedup_stream_first_seen(pages: DataFrame,
                            ttl_minutes: int = 24 * 60) -> DataFrame:
    """Streaming exact-dedup by url: emit each url's FIRST-seen crawl, drop
    later recrawls — the custom stateful operator path
    (applyInPandasWithState), for pipelines that must suppress duplicates
    online rather than reconcile them in the batch MERGE.

    State is one marker per distinct url with an event-time TTL: the
    stream's watermark trails its newest ``warc_ts`` by ``ttl_minutes``,
    and a marker times out once the watermark passes the newest crawl of
    its url (re-armed on every sighting).  State size is therefore bounded
    by the distinct urls crawled within the TTL window, not the stream's
    lifetime — the knob that keeps 10^12-doc state holdable.  After a
    url's state expires, its next recrawl passes through again; the
    downstream MERGE (newest warc_ts wins at the table) reconciles that
    tail.  A page crawled more than the TTL before the newest crawl seen
    is late, and Spark drops it: its url's marker may already be gone.

    Expiry follows the crawl clock, not the wall clock, so a replay emits
    the same rows, and an ``availableNow`` query ends once its input is
    drained.  (With a processing-time timeout Spark plans another no-data
    batch after every batch, so such a query never ends by itself.)
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = [f.name for f in PAGES_SCHEMA.fields]

    def first_seen(key, pdfs, state):
        worker_once()
        if state.hasTimedOut:
            state.remove()
            return
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        rows = pd.concat(frames)
        new = not state.exists
        state.update((1,))
        # epoch ms from the JVM: no time-zone reading of pandas timestamps
        state.setTimeoutTimestamp(int(rows["_ts_ms"].max()))
        if new:
            yield rows.sort_values("warc_ts").head(1)[cols]

    return (
        pages.withWatermark("warc_ts", "%d minutes" % ttl_minutes)
        .withColumn("_ts_ms", F.unix_millis("warc_ts"))
        .groupBy("url")
        .applyInPandasWithState(
            first_seen,
            outputStructType=PAGES_SCHEMA,
            stateStructType="seen int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def events_hourly_stream(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming hourly event rollup with late-data handling: the watermark
    bounds aggregation state (windows older than max(ts) - watermark
    finalize and free), so state is O(active windows), not O(stream).
    Append mode emits each (hour, event_type) row exactly once, when its
    window finalizes — the streaming twin of the batch events_hourly
    query."""
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (with local tz); parquet event times are
    # often TIMESTAMP_NTZ — cast is a no-op when already LTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_extract_stream(spark: SparkSession, source_dir: str, output_dir: str,
                       checkpoint_dir: str, available_now: bool = True,
                       rules: RuleConfig = DEFAULT_RULES):
    """Start (and with available_now=True, drain) the streaming job.

    Returns the StreamingQuery.  available_now processes the current backlog
    and stops — the incremental-batch mode used for catch-up runs and tests.
    """
    result = extract_stream(stream_pages(spark, source_dir), rules)
    writer = (
        result.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessions_stream(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 day",
                    value_col: str | None = "value") -> DataFrame:
    """Streaming per-session rollup: the SAME session_window aggregation
    as the batch operators/sessions.session_rollup, with a watermark so
    session state finalizes (append mode emits a session once, when no
    more events can merge into it).  State is O(open sessions), not
    O(stream) — the session closes ``gap`` after its last event, plus the
    watermark delay for stragglers.  ``value_col`` mirrors session_rollup:
    None (or an absent column) rolls up counts only."""
    from pyspark.sql import functions as F

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None and value_col in events.columns:
        aggs.append(F.round(F.sum(value_col), 4).alias("sum_value"))
    out_cols = [
        "user_id",
        F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss")
        .alias("session_start"),
        F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss")
        .alias("session_end"),
        "n_events",
    ] + (["sum_value"] if len(aggs) > 1 else [])
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), gap).alias("sw"),
            F.col("user_id"),
        )
        .agg(*aggs)
        .select(*out_cols)
    )


def normalize_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the corpus-recipe policy+normalization head:
    robots noindex filter -> cp1252/Latin-1 mojibake repair -> Unicode
    NFC -> C0-control strip.  Every stage is a stateless projection or
    Arrow map, so this is literally the batch code running under
    readStream — no state store, no watermark, exactly-once by the sink
    contract alone.  Input schema: (doc_id, html, text)."""
    from htmlcleanup_spark.functions.charset import (
        fix_mojibake,
        nfc_normalize_text,
        strip_control_chars,
    )
    from htmlcleanup_spark.functions.robots import robots_noindex
    from pyspark.sql import functions as F

    kept = docs.filter(~robots_noindex("html")).select(
        "doc_id", fix_mojibake().alias("text")
    )
    return nfc_normalize_text(kept).select(
        "doc_id", strip_control_chars().alias("text")
    )


def cdx_latest_stream(lines: DataFrame, ok_only: bool = True) -> DataFrame:
    """Streaming twin of sources/cdx.latest_captures: CDXJ index lines
    arrive as a text stream (a crawler publishes index shards as it
    writes WARCs) and the latest-capture table maintains itself as ONE
    streaming aggregate keyed by urlkey — the same map-combined max_by
    shape as batch, running under the state store.

    Two honest deviations from the batch twin, both forced by
    Structured Streaming's rules: exact countDistinct is unsupported in
    streaming aggregations, so digest variety is
    ``approx_count_distinct`` (HLL — exact in practice at per-key
    cardinalities of a recrawl cadence); and the per-key state is
    unbounded (complete/update mode) — at corpus scale you run this per
    crawl WINDOW and fold windows with cdx.merge_capture_indexes
    instead of holding the whole URL universe in the state store.
    """
    from pyspark.sql import functions as F

    from ..sources.cdx import parse_cdxj

    caps = parse_cdxj(lines)
    if ok_only:
        caps = caps.filter(F.col("status") == 200)
    return caps.groupBy("urlkey").agg(
        F.max("cdx_ts").alias("latest_ts"),
        F.expr("max_by(url, cdx_ts)").alias("url"),
        F.expr("max_by(digest, cdx_ts)").alias("digest"),
        F.expr("max_by(filename, cdx_ts)").alias("filename"),
        F.expr("max_by(offset, cdx_ts)").alias("offset"),
        F.expr("max_by(length, cdx_ts)").alias("length"),
        F.count("*").alias("n_captures"),
        F.approx_count_distinct("digest").alias("n_digests_approx"),
    )


def capture_history_stream(captures: DataFrame) -> DataFrame:
    """Streaming twin of sources/cdx.capture_history: the capture log
    arrives as a stream and each urlkey's SCD-2 ledger maintains itself
    in per-key state (applyInPandasWithState) — a version-OPEN event
    (urlkey, version, valid_from, digest) is emitted the moment a
    capture's digest differs from the key's last stored digest.

    Append-mode semantics: the stream emits version openings; closing
    timestamps (valid_to) and collapsed-recrawl counts are a batch
    reconciliation (the batch twin computes them from the same log) —
    an open interval can't be finalized online without update mode.
    State per urlkey is (last_digest, version) — two fields, bounded by
    the URL universe, the RocksDB-state-store regime at corpus scale;
    per crawl-window runs + batch folds keep it smaller.  Capture
    order: rows are processed in ts order within each micro-batch
    group; cross-batch order follows arrival, which for a crawler
    publishing index shards as it writes them IS capture order —
    late-arriving out-of-order captures belong to the batch twin.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def ledger(key, pdfs, state):
        worker_once()
        if state.exists:
            last_digest, version = state.get
        else:
            last_digest, version = None, 0
        out_v, out_f, out_d = [], [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for row in pdf.sort_values("ts").itertuples():
                if row.digest != last_digest:
                    version += 1
                    last_digest = row.digest
                    out_v.append(version)
                    out_f.append(row.ts)
                    out_d.append(row.digest)
        state.update((last_digest, version))
        if out_v:
            yield pd.DataFrame(
                {
                    "urlkey": key[0],
                    "version": pd.array(out_v, dtype="int32"),
                    "valid_from": pd.array(out_f, dtype="int64"),
                    "digest": out_d,
                }
            )

    return captures.groupBy("urlkey").applyInPandasWithState(
        ledger,
        outputStructType=(
            "urlkey string, version int, valid_from long, digest string"
        ),
        stateStructType="last_digest string, version int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ingest_route_stream(pages: DataFrame,
                        payload_col: str = "payload",
                        id_col: str = "doc_id") -> DataFrame:
    """Streaming ingest router: magic-byte MIME sniff over raw crawl
    payloads routes each record; the textual branch (text/html,
    text/plain) is decoded and repaired with the RefinedWeb line
    corrections, non-text media fall out of this stream (they route to
    the media pipelines by the same ``mime`` key).  Every stage is a
    stateless projection — sniff, filter, decode, line-repair — so
    this is the batch code running under readStream: no state store,
    no watermark, no join-back (mime_sniff's ``keep_cols`` carries the
    payload through, which is what makes the router join-free).
    Input schema: (doc_id, payload:binary)."""
    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.corpus import refinedweb_line_rules
    from htmlcleanup_spark.operators.multimodal import mime_sniff

    sniffed = mime_sniff(pages, payload_col=payload_col, id_col=id_col,
                         keep_cols=(payload_col,))
    text_docs = sniffed.filter(
        F.col("mime").isin("text/html", "text/plain")
    ).select(
        id_col, "mime",
        F.decode(F.col(payload_col), "UTF-8").alias("text"),
    )
    return refinedweb_line_rules(text_docs, id_col=id_col).filter(
        "keep"
    ).select(id_col, "clean_text", "n_lines_removed")
