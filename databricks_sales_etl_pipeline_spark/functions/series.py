"""Calendar-day series shared by the analytics queries, one spelling per
engine.

A day number is the count of days since 1970-01-01 as BIGINT. Spark
``datediff(date, date)`` and DuckDB ``datediff('day', DATE, DATE)`` agree on
it for every date, before 1970 included; timestamps are cast to DATE first,
so a day runs from 00:00 to 23:59:59 in the session time zone (UTC).

``daily_events`` is the per-day events series (``d``, ``x`` = clicks,
``y`` = purchases) that the time-series queries (lag models, rolling and
cross correlation, DTW, adstock, media-mix grid) read. Callers keep their
own ``localCheckpoint`` choice: the builders return plain DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_day(col: Column | str) -> Column:
    """Days since 1970-01-01 of a date or timestamp, as bigint —
    bit-identical to :func:`epoch_day_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )


def epoch_day_sql(expr: str) -> str:
    """DuckDB twin of :func:`epoch_day`."""
    return f"CAST(datediff('day', DATE '1970-01-01', CAST({expr} AS DATE)) AS BIGINT)"


def _flag_count(event_type: str) -> Column:
    return (
        F.sum(F.when(F.col("event_type") == event_type, 1).otherwise(0))
        .cast("bigint")
    )


def daily_events(e: DataFrame) -> DataFrame:
    """``events`` → one row per calendar day: ``d`` (epoch day), ``x``
    (clicks) and ``y`` (purchases), all bigint."""
    return e.groupBy(epoch_day(F.col("ts")).alias("d")).agg(
        _flag_count("click").alias("x"), _flag_count("purchase").alias("y")
    )


#: DuckDB twin of :func:`daily_events` — a SELECT for a ``WITH daily AS (…)``.
DAILY_EVENTS_SQL = f"""
        SELECT {epoch_day_sql('CAST(ts AS TIMESTAMP)')} AS d,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1"""
