"""Sorts / limits (SURVEY §2.6 O1-O4).

A global ``orderBy`` is a range-partitioned total sort (sampling pass +
shuffle); the engine keeps it sink-side only, exactly where the reference
uses it (presentation order before the serving write,
``pyspark/batch_stock.py:85``). Anything mid-pipeline that only needs
per-group order should use ``operators.windows.ranked`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sort_by(df: DataFrame, cols: list[str], ascending: list[bool] | bool = True) -> DataFrame:
    """Multi-key sort (O1-O2; reference ``pyspark/batch_stock.py:85``,
    ``ML_stock.py:123``)."""
    return df.orderBy(cols, ascending=ascending)


def limit_rows(df: DataFrame, n: int) -> DataFrame:
    """Explicit limit (O3 — the reference's implicit ``show()`` limit 20)."""
    return df.limit(n)


def first_row(df: DataFrame):
    """Scalar extraction (O4; reference ``pyspark/merge_stock.py:84``)."""
    return df.first()
