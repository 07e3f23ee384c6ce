"""Date/time derivations (SURVEY §2.8 date/time family).

Everything here is a built-in ``pyspark.sql.functions`` composition — JVM-side,
codegen-fused, no UDFs. Session timezone is pinned UTC by the session factory
so timestamp→date/hour agree with the oracle (SURVEY §7.4 risk 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_date_hour(df: DataFrame, ts_col: str, tz: str | None = None,
                   skew_minutes: int = 0,
                   date_col: str = "date", hour_col: str = "hour") -> DataFrame:
    """Derive grouping ``date``/``hour`` from a timestamp — the prelude of
    every reference batch aggregate (``pyspark/batch_stock.py:70-74``:
    ``from_utc_timestamp(ts, 'America/New_York')`` − 20 minutes → to_date /
    hour). ``tz`` applies the reference's wall-clock conversion; ``skew_minutes``
    its −20-minute feed-lag correction (``batch_stock.py:72``)."""
    ts: Column = F.col(ts_col)
    if tz:
        ts = F.from_utc_timestamp(ts, tz)
    if skew_minutes:
        ts = ts - F.expr(f"INTERVAL {skew_minutes} minutes")
    return (df.withColumn(date_col, F.to_date(ts))
              .withColumn(hour_col, F.hour(ts)))


def shift_timestamp(ts_col: str, minutes: int) -> Column:
    """Shift a timestamp column FORWARD by ``minutes`` (negative shifts
    backward — the reference's −20-minute feed-skew correction is
    ``shift_timestamp("ts", -20)``; ``pyspark/batch_stock.py:72``)."""
    op = "+" if minutes >= 0 else "-"
    return F.expr(f"{ts_col} {op} INTERVAL {abs(minutes)} minutes")


def calendar_features(df: DataFrame, ts_col: str) -> DataFrame:
    """Calendar featurization (M2; reference ``pyspark/ML_stock.py:87-90``):
    hour / dayofweek (Spark convention: Sunday=1) / month."""
    return (df.withColumn("hour", F.hour(ts_col))
              .withColumn("dayofweek", F.dayofweek(ts_col))
              .withColumn("month", F.month(ts_col)))
