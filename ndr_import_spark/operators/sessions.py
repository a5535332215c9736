"""Gap-based sessionization over an event stream (batch form).

Net-new scale operator (the streaming twin lives in streaming/pipeline.py
as session windows): assign every event a session number such that a new
session starts when the gap from the user's previous event exceeds
`gap`. The classic lag + running-sum-of-flags construction — ONE shuffle
on the user key, then two in-partition window passes (lag, cumulative
sum) over the same (user, ts) sort order, which Spark executes as a
single sort. Per-user event counts are bounded in practice; a
pathological single-user firehose would need the salted-window treatment
(operators/skew.py), noted here rather than applied since session
numbering is inherently sequential per user.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_seconds(ts: Column) -> Column:
    """Whole seconds since 1970 for timestamp AND timestamp_ntz columns
    (a plain long cast rejects NTZ; timestamp_diff handles both and is
    timezone-free — matching floor(epoch(ts)) on naive timestamps)."""
    return F.timestamp_diff(
        "SECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), ts
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Add a `session_no` column (1-based per user).

    A new session starts when the previous event of the same user is
    more than `gap_seconds` older (or absent). Ordering ties on `ts`
    break on `order_col` for determinism."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    es = epoch_seconds(F.col(ts_col))
    prev_es = F.lag(es).over(w)
    new_flag = F.when(
        prev_es.isNull() | (es - prev_es > gap_seconds), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(ts_col, order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_new", new_flag).withColumn(
        "session_no", F.sum("_new").over(running)
    ).drop("_new")


def session_stats(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-session aggregates: event count, span, value sum.

    Returns (user, session_no, n_events, start_ts, end_ts, duration_s)."""
    s = sessionize(df, "user_id", "ts", "event_id", gap_seconds)
    es = epoch_seconds(F.col("ts"))
    return s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        (F.max(es) - F.min(es)).alias("duration_s"),
    )
