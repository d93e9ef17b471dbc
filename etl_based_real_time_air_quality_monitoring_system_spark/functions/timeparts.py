"""Calendar decomposition of event time (SURVEY.md §2.8 F4-F5).

Reference extracts ``year/month/day/hour`` from a string timestamp via
``to_timestamp`` at analysis time (``spark_processor.py:107-119``) and
stamps ``processing_date = current_date()``
(``spark_processor.py:104-106``).  The engine stores TimestampType at
rest, so decomposition is direct; a string-parse variant exists for
ingest parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def calendar_parts(ts: Column | str) -> dict[str, Column]:
    """F5 — year/month/day/hour as int columns."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return {
        "year": F.year(c),
        "month": F.month(c),
        "day": F.dayofmonth(c),
        "hour": F.hour(c),
    }


def with_calendar_parts(
    df: DataFrame, ts: str = "timestamp", parse_string: bool = False
) -> DataFrame:
    """Add year/month/day/hour (+F4 string parse when the source kept
    string timestamps, spark_processor.py:109).  Single ``withColumns``
    so the projection collapses to one Project node."""
    c: Column = F.to_timestamp(F.col(ts)) if parse_string else F.col(ts)
    return df.withColumns(calendar_parts(c))
