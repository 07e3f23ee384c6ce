"""Filters / predicates (SURVEY §2.2 P7; P8-P9 are plain ``DataFrame.filter``
and ``DataFrame.na.drop``).

Expressed as Column predicates so Catalyst's PushDownPredicates moves them
into the parquet scan (``PushedFilters`` in the physical plan) — at 100 TB a
pushed ``isNotNull`` + equality skips row groups via parquet statistics
before a single byte is decoded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def not_null(df: DataFrame, *cols: str) -> DataFrame:
    """Null-rejecting filter (P7; reference ``filter(col('delay').isNotNull())``
    before avg at ``pyspark/batch_tomtom.py:94,98`` — note ``avg`` already
    skips nulls; the filter is kept for row-set parity and because pushed
    IsNotNull prunes parquet row groups)."""
    pred = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        pred = pred & F.col(c).isNotNull()
    return df.filter(pred)
