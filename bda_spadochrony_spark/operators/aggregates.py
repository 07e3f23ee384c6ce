"""Hash aggregations (SURVEY §2.4 A1-A9).

All of these compile to Spark's two-phase HashAggregate (partial map-side
combine → shuffle on the group keys → final), so the shuffle volume is the
distinct-key count, not the row count — the property that keeps a
(date,hour)-grouped aggregate over 100 TB of minute-grained rows cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.numeric import stable_round


def group_agg(df: DataFrame, keys: list[str], measures: list[Column]) -> DataFrame:
    """Multi-measure hash aggregate (A1; reference hourly aggregates at
    ``pyspark/batch_stock.py:76-85`` — count + 8× round(avg, 2)).

    Measures are pre-aliased Columns, e.g. ``F.round(F.avg("open"), 2)
    .alias("avg_open")``; every computed column MUST be aliased so results
    are oracle-comparable by name.
    """
    return df.groupBy(*keys).agg(*measures)


def hourly_measures(avg_cols: list[str], ndigits: int = 2) -> list[Column]:
    """The reference's standard measure block: ``count(*)`` plus rounded
    averages of every metric column (``pyspark/batch_stock.py:77-84``,
    9-avg weather variant ``batch_openweather.py:91-100``)."""
    out = [F.count(F.lit(1)).alias("cnt")]
    out += [stable_round(F.avg(c), ndigits).alias(f"avg_{c}") for c in avg_cols]
    return out


def mode_by_struct_max(df: DataFrame, keys: list[str], value_col: str,
                       out_col: str | None = None) -> DataFrame:
    """Per-group mode (most frequent value) via the struct-max idiom
    (A3; reference ``pyspark/batch_openweather.py:12-20``, 4-key/3-key
    variants ``batch_tomtom.py:12-30``).

    Semantics preserved exactly: count per (keys, value), then
    ``max(struct(count, value))`` — ties broken by the LARGER value
    (numeric or lexicographic), which differs from Spark 3.4's ``F.mode``
    (arbitrary tie) and DuckDB's ``mode`` (first-seen). Two shuffles, both
    on low-cardinality keys; at 100 TB the first groupBy does the heavy
    reduction map-side.
    """
    out_col = out_col or f"mode_{value_col}"
    counted = df.groupBy(*keys, value_col).count()
    return (
        counted.groupBy(*keys)
        .agg(F.max(F.struct(F.col("count"), F.col(value_col))).alias("__m"))
        .select(*keys, F.col(f"__m.{value_col}").alias(out_col))
    )


def two_level_avg(df: DataFrame, fine_keys: list[str], coarse_keys: list[str],
                  avg_col: str, count_col: str,
                  avg_alias: str | None = None, count_alias: str | None = None) -> DataFrame:
    """Two-level re-aggregation with avg-of-avgs semantics (A6; reference
    ``pyspark/batch_tomtom.py:114-117``).

    Level 1 averages ``avg_col`` per ``fine_keys``; level 2 re-averages the
    per-group averages per ``coarse_keys`` (UNWEIGHTED — deliberately not a
    weighted mean; SURVEY §7.4 risk 3) and counts distinct fine groups via
    ``count(count_col)``'s null-skipping count of group rows.
    """
    avg_alias = avg_alias or f"avg_avg_{avg_col}"
    count_alias = count_alias or f"cnt_{count_col}"
    fine = df.groupBy(*fine_keys).agg(F.avg(avg_col).alias("__fine_avg"))
    return fine.groupBy(*coarse_keys).agg(
        F.count(count_col).alias(count_alias),
        F.avg("__fine_avg").alias(avg_alias),
    )


def agg_with_mode(df: DataFrame, keys: list[str], avg_col: str,
                  mode_col: str, ndigits: int = 2) -> DataFrame:
    """Fused single-scan version of "hourly aggregate + mode join"
    (A1+A3+J1): instead of scanning the input twice and joining two
    aggregates (the reference's shape, ``batch_openweather.py:91-105``),
    aggregate once per (keys, mode_col) — count, null-skipping value count,
    sum — then roll up to (keys): total count, sum-of-sums/sum-of-counts
    average, and ``max(struct(count, value))`` mode with the identical
    larger-value tie-break.

    1 scan + 2 shuffles (the second over already-tiny level-1 rows) versus
    2 scans + 5 exchanges + a join — the difference that matters when the
    input is 100 TB and the aggregate is KBs.
    """
    lvl1 = df.groupBy(*keys, mode_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(avg_col).alias("__nv"),
        F.sum(avg_col).alias("__s"))
    return (lvl1.groupBy(*keys).agg(
        F.sum("__n").alias("cnt"),
        stable_round(F.sum("__s") / F.sum("__nv"), ndigits).alias(f"avg_{avg_col}"),
        F.max(F.struct(F.col("__n"), F.col(mode_col))).alias("__m"))
        .select(*keys, "cnt", f"avg_{avg_col}",
                F.col(f"__m.{mode_col}").alias(f"mode_{mode_col}")))


def profile_columns(df: DataFrame, num_cols: list[str]) -> DataFrame:
    """ANALYZE-style numeric column profile in ONE pass: for each column,
    (n_rows, n_null, n_distinct, min, max, avg) — the stats collection a
    100 TB lake runs per table to drive pruning decisions and data-quality
    checks. All 6·k aggregates evaluate in a single scan + single
    reduction (no per-column jobs); the wide agg row is unpivoted to one
    row per column afterwards, which is a metadata-sized stack operation.

    count_distinct makes the aggregation exact; swap in
    ``approx_count_distinct`` (or the mergeable sketches in
    ``operators/sketches``) when exact NDV is not worth its shuffle at
    full scale.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in num_cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.count_distinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("double").alias(f"__min_{c}"),
            F.max(c).cast("double").alias(f"__max_{c}"),
            F.avg(c).cast("double").alias(f"__avg_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = []
    for c in num_cols:
        stack_args += [
            f"'{c}'", f"__n - __nn_{c}", f"__nd_{c}",
            f"__min_{c}", f"__max_{c}", f"__avg_{c}"]
    return wide.select(
        F.col("__n").alias("n_rows"),
        F.expr(f"stack({len(num_cols)}, {', '.join(stack_args)}) AS "
               "(column, n_null, n_distinct, min_value, max_value, avg_value)")
    ).select("column", "n_rows", "n_null", "n_distinct",
             "min_value", "max_value", "avg_value")


def equi_depth_histogram(df: DataFrame, col: str, buckets: int = 10,
                         round_digits: int = 6) -> DataFrame:
    """Equi-DEPTH histogram (the fixed-width twin is ``q_histogram``):
    bucket boundaries are the exact ``i/buckets`` percentiles, so every
    bucket holds ~the same row count — the statistic a range partitioner
    or an optimizer's selectivity model actually wants (fixed-width bins
    collapse under skew; equi-depth bins track the mass).

    Plan: ONE exact-percentile aggregate produces the (buckets−1)-value
    boundary array; assignment is a broadcast of that single row + a
    bounded ``filter`` fold per row (buckets−1 comparisons — a histogram
    build, not a hot path); counts are one map-side-combined shuffle.
    Boundaries are stable-rounded before comparison so interpolation
    arithmetic can't split a boundary-valued row across engines.

    Non-finite pin (r7 edge program): boundaries are computed over
    FINITE values only — a single NaN poisons percentile interpolation
    in both engines (Spark sorts NaN above +Inf; DuckDB quantile_cont
    returns NaN), and an Inf boundary makes every interpolated bound
    above it non-finite. Non-finite ROWS are still bucketed: both
    engines order NaN > +Inf > finite > -Inf in comparisons, so NaN/+Inf
    land deterministically in the top bucket and -Inf in bucket 0.
    Returns (bucket, n_rows) with bucket in 0..buckets−1.
    """
    cd = F.col(col).cast("double")
    finite = (F.col(col).isNotNull() & ~F.isnan(cd)
              & (F.abs(cd) != F.lit(float("inf"))))
    qs = ", ".join(str((i + 1) / buckets) for i in range(buckets - 1))
    bounds = (df.where(finite)
              .agg(F.expr(f"percentile({col}, array({qs}))")
                     .alias("__b"))
              .select(F.transform(
                  "__b", lambda x: stable_round(x, round_digits))
                  .alias("__b")))
    j = (df.where(F.col(col).isNotNull())
         .crossJoin(F.broadcast(bounds)))
    bucket = F.size(F.filter("__b", lambda t: F.col(col) > t))
    return (j.groupBy(bucket.cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows")))
