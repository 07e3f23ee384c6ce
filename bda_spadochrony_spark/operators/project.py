"""Projections / renames (SURVEY §2.2 P1-P5, P13).

Thin, deliberate wrappers: each is a single narrow transformation Catalyst
collapses into one Project node, and naming them gives the engine a stable,
testable operator inventory. Column pruning pushes any ``select`` down to the
parquet scan's ReadSchema — project early, scan less.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def project(df: DataFrame, cols: list) -> DataFrame:
    """Explicit projection (P1; reference 26-col final select at
    ``pyspark/stream_combined.py:207-211``). Accepts names or Columns —
    including nested-field access ``col("a.b")`` (P2)."""
    return df.select(*cols)


def derive(df: DataFrame, **named_exprs: Column) -> DataFrame:
    """Derived columns (P3; ≈60 ``withColumn`` uses in the reference) —
    batched through ``withColumns`` so N derivations add ONE Project node."""
    return df.withColumns(named_exprs)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Column renames (P4; reference ``withColumnRenamed("prediction",
    "tomtom_prediction")`` at ``stream_combined.py:126-128``)."""
    return df.withColumnsRenamed(mapping)


def drop_cols(df: DataFrame, *cols: str) -> DataFrame:
    """Column drop (P5; reference ``pyspark/ML_tomtom.py:190-196``)."""
    return df.drop(*cols)
