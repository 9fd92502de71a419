"""Event-stream batch operators: sessionization and time-window aggs.

Batch forms of the streaming patterns (streaming/pipeline.py holds the
Structured Streaming variants). Sessionization is the classic
gap-and-island window composition — lag → gap flag → cumulative sum —
one shuffle on user_id; tumbling windows are a date_trunc groupBy.

Time arithmetic is integer microseconds (unix_micros / epoch_us) on
both engines — exact, no float time math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents

SESSION_GAP_MIN = 30


def sessionize(events: DataFrame) -> DataFrame:
    """Assign a per-user session index: a new session starts when the
    gap since the previous event exceeds ``SESSION_GAP_MIN``."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    us = F.unix_micros(F.col("ts"))
    gap_us = us - F.lag(us).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        events.withColumn("_new", new_sess)
        .withColumn(
            "session_id",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long"),
        )
        .drop("_new")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """One row per (user, session): bounds, size, value total."""
    s = sessionize(events)
    us = F.unix_micros(F.col("ts"))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
        # decimal cents accumulation (r15, ADVICE-r14 class; the
        # shared helper carries the overflow analysis)
        (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
    )


def hourly_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type (batch form)."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             # decimal for the same int64-overflow reason as
             # session_stats above (r15; shared helper)
             (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"))
    )
