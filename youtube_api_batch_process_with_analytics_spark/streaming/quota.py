"""Structured Streaming variants of the stateful operators (SURVEY.md §2.9).

The reference maintains continuously-updated per-key quota counters that
reset at calendar-day/hour boundaries (``APIKeyStats``,
youtube_api_handler.py:33-79) and a 90%-of-quota warning (277-289). The
streaming twin is a watermarked tumbling-window aggregation over a request
event stream — calendar-aligned ``window()`` matches the reference's
``now.date()``/``now.hour`` reset semantics exactly.

These transforms are source-agnostic: tests feed them from a file/rate
source via ``readStream``; production would use Kafka. The *batch* analogs
(identical aggregation logic, same column names) live in
``operators/windows.py`` and are the oracle-verified path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import HOURLY_QUOTA


def quota_usage_stream(
    events: DataFrame,
    window_duration: str = "1 hour",
    quota: int = HOURLY_QUOTA,
    watermark: str = "2 hours",
) -> DataFrame:
    """ST2 — per-key tumbling-window usage with quota admission/warn flags.

    ``events`` must have (ts TIMESTAMP, user_id, event_type). The watermark
    bounds state: windows older than it are finalized and evicted, which is
    what lets this run indefinitely on an unbounded stream (the reference
    keeps only the current day/hour counter — same bounded-state property).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id").alias("key_id"),
            F.window(F.col("ts"), window_duration).alias("w"),
        )
        .agg(
            F.count("*").alias("requests"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "failures"
            ),
        )
        .select(
            "key_id",
            F.col("w.start").alias("window_start"),
            "requests",
            "failures",
            F.round(F.col("requests") / F.lit(quota) * 100.0, 2).alias("quota_pct"),
            (F.col("requests") >= int(0.9 * quota)).alias("quota_warning"),
            (F.col("requests") < quota).alias("admitted"),
        )
    )


def watermarked_level_counts(
    events: DataFrame, window_duration: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """ST6/A8 streaming — per-level counts per calendar window (the
    streaming form of the log-stats aggregate, sqlite_logger.py:267-279,
    with late-data tolerance via the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window(F.col("ts"), window_duration).alias("w"),
            F.col("event_type").alias("level"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "level", "cnt")
    )
