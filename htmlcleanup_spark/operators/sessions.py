"""Event sessionization: gap-based session assignment per user.

The classic two-window relational pattern: a lag() marks session breaks
(gap > timeout), a running sum over the same ordering turns breaks into
per-user session ordinals.  Both windows share one partitioning, so the
whole operator costs exactly ONE shuffle (by user), and the sort is reused
across the two window functions — the plan Catalyst produces is a single
Window node pair over one Exchange+Sort.

At 10^12 events the shuffle is keyed by user_id (high cardinality, no
Zipf head worse than the busiest user); a user whose event count exceeds
task memory would need a secondary time-bucket split, which composes with
this operator unchanged (sessionize within (user, day) buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(df: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", order_tiebreak: str = "event_id",
               gap_seconds: int = 1800) -> DataFrame:
    """Add ``session_seq``: 0-based session ordinal per user, a new session
    starting whenever the gap to the previous event exceeds
    ``gap_seconds``.  Ordering ties break on ``order_tiebreak`` so the
    assignment is deterministic (same-timestamp events).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # parquet event times are TIMESTAMP_NTZ, which has no direct cast to
    # BIGINT — go through TIMESTAMP (session TZ is UTC in this engine's
    # sessions, so the epoch matches the SQL oracle's epoch())
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    brk = F.when(gap > gap_seconds, 1).otherwise(0)
    seq = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("session_seq", seq)


def session_rollup(df: DataFrame, user_col: str = "user_id",
                   ts_col: str = "ts",
                   gap: str = "30 minutes",
                   value_col: str | None = "value") -> DataFrame:
    """Per-session aggregate via Spark's NATIVE session window
    (``F.session_window``): one row per (user, session) with start/end
    and event stats.  Merge semantics: events whose gap is <= the window
    gap share a session (verified against the gap-based ``sessionize``:
    a diff of exactly ``gap`` merges; strictly greater splits) — so this
    is the aggregate twin of ``sessionize`` and the SQL oracle derives it
    from the same lag/running-sum construction.

    Why the native operator matters at scale: session_window is a
    first-class aggregation — one shuffle on the user key, sessions
    merged inside the aggregation buffers (no per-user sort + two window
    passes).

    ``value_col`` names the measure to sum per session (emitted as
    ``sum_value``); pass None — or a column the frame lacks — to roll up
    counts only, instead of raising on frames without a ``value`` column.
    """
    events = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None and value_col in df.columns:
        aggs.append(F.round(F.sum(value_col), 4).alias("sum_value"))
    out_cols = [
        user_col,
        F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss")
        .alias("session_start"),
        F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss")
        .alias("session_end"),
        "n_events",
    ] + (["sum_value"] if len(aggs) > 1 else [])
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(user_col),
        )
        .agg(*aggs)
        .select(*out_cols)
    )
