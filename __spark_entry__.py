"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a named operator/pipeline from SURVEY.md §2,
implemented with the engine (``bda_spadochrony_spark``), and paired with an
ANSI-SQL oracle in ``oracle_sql()`` that DuckDB runs on the same parquet
tables. Every computed column is aliased identically on both sides; integer
widths are aligned (DuckDB ``hour()`` etc. return BIGINT → cast to INTEGER
to match Spark); floating aggregates are rounded on both sides so
summation-order ulp noise can't break the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)

from bda_spadochrony_spark.session import configure
from bda_spadochrony_spark.sources.readers import scan, conform, union_by_name
from bda_spadochrony_spark.functions.temporal import with_date_hour, calendar_features
from bda_spadochrony_spark.functions.encode import one_hot, horizontal_sum
from bda_spadochrony_spark.functions.numeric import stable_round
from bda_spadochrony_spark.operators.aggregates import (group_agg, hourly_measures,
                                                        mode_by_struct_max, two_level_avg)
from bda_spadochrony_spark.operators.joins import equi_join, join_chain, interval_join
from bda_spadochrony_spark.operators.windows import range_frame_agg, top_k_per_group
from bda_spadochrony_spark.operators.sorts import sort_by


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    return scan(spark, f"{sf_dir}/{name}.parquet")


# declared schema for file-streaming the events feed (streaming sources
# can't infer schemas; shared by every stream_* contract query)
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()), StructField("ts", TimestampType()),
    StructField("user_id", LongType()), StructField("event_type", StringType()),
    StructField("value", DoubleType()), StructField("props", StringType()),
])


# ---------------------------------------------------------------- queries --

def q_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+P3+O1 — the reference's canonical hourly aggregate
    (``pyspark/batch_stock.py:70-85``) over the events feed."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    agg = group_agg(ev, ["date", "hour"], hourly_measures(["value"]))
    return sort_by(agg, ["date", "hour"])


def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — struct-max mode with larger-value tie-break
    (``pyspark/batch_openweather.py:12-20``)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    return mode_by_struct_max(ev, ["date", "hour"], "event_type")


def q_hourly_with_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3+J1 fused — the reference computes the hourly aggregate and the
    mode as two scans joined on (date, hour) (``batch_openweather.py:91-105``);
    the engine fuses them into ONE scan + two aggregations
    (``operators.aggregates.agg_with_mode``): same rows, same tie-break,
    no join, half the scan volume — the 100 TB-relevant rewrite."""
    from bda_spadochrony_spark.operators.aggregates import agg_with_mode
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    out = agg_with_mode(ev, ["date", "hour"], "value", "event_type")
    return sort_by(out, ["date", "hour"])


def q_two_level_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — avg-of-avgs re-aggregation, unweighted by design
    (``pyspark/batch_tomtom.py:114-117``)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    out = two_level_avg(ev,
                        fine_keys=["date", "hour", "event_type", "user_id"],
                        coarse_keys=["date", "hour", "event_type"],
                        avg_col="value", count_col="user_id",
                        avg_alias="avg_avg_value", count_alias="n_users")
    return out.withColumn("avg_avg_value", stable_round(F.col("avg_avg_value"), 2))


def q_null_skipping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/P10 — null-domain aggregate: values nulled under a predicate,
    then null-skipping count(col) + avg(col) (``pyspark/batch_tomtom.py:94-103``)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    ev = ev.withColumn("value_maybe", F.when(F.col("value") < 5.0, None).otherwise(F.col("value")))
    return group_agg(ev, ["event_type"], [
        F.count("value_maybe").alias("n_nonnull"),
        F.count(F.lit(1)).alias("n_rows"),
        stable_round(F.avg("value_maybe"), 2).alias("avg_nonnull"),
    ])


def q_filtered_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 — pushed equality + isNotNull filters before aggregation
    (``pyspark/ML_tomtom.py:165``, ``batch_tomtom.py:94``)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    ev = ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
    return group_agg(ev, ["date"], [F.count(F.lit(1)).alias("n_purchases"),
                                    stable_round(F.sum("value"), 2).alias("total_value")])


def q_range_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — forward range-frame rolling sum: value in the next hour per row
    (``pyspark/ML_stock.py:161-171``)."""
    ev = _t(spark, sf_dir, "events").withColumn("ts_unix", F.unix_timestamp("ts"))
    out = range_frame_agg(ev, "ts_unix", (0, 3600),
                          [(F.sum("value"), "next_hour_value"),
                           (F.count(F.lit(1)), "next_hour_events")])
    return out.select("event_id", "ts_unix",
                      stable_round(F.col("next_hour_value"), 2).alias("next_hour_value"),
                      "next_hour_events")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 at TPC-H shape — lineitem pricing summary (Q1-like): the
    multi-measure hash agg the 100 TB bench leans on. The shipdate cut sits
    inside the data range (1995–2001) so the pushed predicate eliminates
    ~46% of rows — real pushdown, not a no-op."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    return sort_by(group_agg(li, ["l_returnflag", "l_linestatus"], [
        stable_round(F.sum("l_quantity"), 2).alias("sum_qty"),
        stable_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        stable_round(F.avg("l_quantity"), 2).alias("avg_qty"),
        stable_round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    ]), ["l_returnflag", "l_linestatus"])


def q_pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1 pricing summary on DECIMAL money (r12, VERDICT r11 #6 —
    the engine's first DECIMAL-typed coverage; nothing is owed by the
    reference, but TPC-H money at 100 TB is decimal in every real
    warehouse). The doubles are bias-rounded to the 2-decimal money
    grid FIRST (``stable_round`` — Spark's double→decimal cast rounds
    the shortest decimal repr while DuckDB rounds the true binary
    value, the exact tie hazard stable_round exists for; after the
    round both casts recover the same 2-decimal value), then every
    downstream step is EXACT decimal arithmetic: no summation-order ulp
    noise, no output rounding bias needed — the sums agree digit for
    digit, which is the point of decimal money. Intermediate widths are
    pinned by explicit casts on both engines (disc_price scale 4,
    charge scale 6) so neither engine's implicit precision promotion
    rules enter; each measure keeps its NATURAL exact scale (qty/base
    2, disc_price 4, charge 6) and is SERIALIZED AS A STRING for the
    driver hash (the driver's pandas round-trip coerces DuckDB DECIMAL
    to float64 while Spark keeps ``Decimal`` objects —
    `tests/oracle_utils.assert_numeric_kinds_match` documents the
    stringification mismatch; the VARCHAR form instead pins the
    rendered decimal DIGIT FOR DIGIT, trailing zeros included).

    SENTINEL (measured building this query): the engines DISAGREE on
    lossy decimal scale reduction — ``CAST(DECIMAL(18,4) AS
    DECIMAL(18,2))`` TRUNCATES in DuckDB (1.0051 → 1.00) but rounds
    HALF_UP in Spark (→ 1.01), so a final-scale-2 variant of this
    query hash-mismatched on exact sums that agreed at scale 4. The
    portable contract is therefore: never reduce decimal scale by
    cast; round explicitly (with a documented rule) or keep the
    natural scale, as here."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01"))
    money = lambda c: stable_round(F.col(c), 2).cast("decimal(12,2)")
    d = (li.select(
        "l_returnflag", "l_linestatus",
        money("l_quantity").alias("qty"),
        money("l_extendedprice").alias("price"),
        money("l_discount").alias("disc"),
        money("l_tax").alias("tax")))
    d = d.withColumn(
        "disc_price",
        (F.col("price") * (F.lit(1).cast("decimal(12,2)") - F.col("disc")))
        .cast("decimal(18,4)"))
    d = d.withColumn(
        "charge",
        (F.col("disc_price")
         * (F.lit(1).cast("decimal(12,2)") + F.col("tax")))
        .cast("decimal(18,6)"))
    out = group_agg(d, ["l_returnflag", "l_linestatus"], [
        F.sum("qty").cast("decimal(20,2)").cast("string").alias("sum_qty"),
        F.sum("price").cast("decimal(20,2)").cast("string")
        .alias("sum_base_price"),
        F.sum("disc_price").cast("decimal(24,4)").cast("string")
        .alias("sum_disc_price"),
        F.sum("charge").cast("decimal(28,6)").cast("string")
        .alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    ])
    return sort_by(out, ["l_returnflag", "l_linestatus"])


def q_pricing_decimal_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL AVERAGES AND RATIOS (r13, VERDICT r12 #6 — one step past
    the r12 sums): where decimal engines diverge NEXT. Measured
    building this query: Spark's ``avg(DECIMAL(p,s))`` returns
    ``DECIMAL(p+4, s+4)`` rounded HALF_UP at scale s+4, while DuckDB's
    native ``avg``/decimal division degrade to DOUBLE (there is no
    exact decimal division in DuckDB at all) — so a "decimal average"
    carried through DuckDB silently stops being exact. The PINNED
    PORTABLE RULE this query records: an exact HALF_UP average or
    ratio at scale k is the INTEGER formula
    ``(2·S·10^(k-s) + C) div (2·C)`` over unit-scaled sums (positive
    values; S at scale s, C the divisor count/denominator-units),
    rendered digit-for-digit as VARCHAR. The Spark side uses the
    NATIVE ``F.avg`` for the three averages (proving the formula
    restates Spark's own semantics exactly, scale 2→6 and 4→8) and
    the formula for the discounted/base ratio (native decimal division
    scale-derivation rules are engine-specific — max(6, s1+p2+1) with
    precision-cap scale reduction in Spark, DOUBLE in DuckDB — so the
    portable form IS the rule); the oracle restates all four with
    HUGEINT arithmetic. Unit-sum casts (sum·10^s → DECIMAL(38,0))
    reduce scale only on exactly-integral values, where the r12
    truncate-vs-round sentinel cannot bite."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01"))
    money = lambda c: stable_round(F.col(c), 2).cast("decimal(12,2)")
    d = li.select(
        "l_returnflag", "l_linestatus",
        money("l_quantity").alias("qty"),
        money("l_extendedprice").alias("price"),
        money("l_discount").alias("disc"))
    d = d.withColumn(
        "disc_price",
        (F.col("price") * (F.lit(1).cast("decimal(12,2)") - F.col("disc")))
        .cast("decimal(18,4)"))
    g = group_agg(d, ["l_returnflag", "l_linestatus"], [
        F.avg("qty").cast("string").alias("avg_qty"),
        F.avg("price").cast("string").alias("avg_price"),
        F.avg("disc_price").cast("string").alias("avg_disc_price"),
        (F.sum("disc_price") * 10000).cast("decimal(38,0)").alias("__sdp"),
        (F.sum("price") * 100).cast("decimal(38,0)").alias("__sp"),
    ])
    # the portable exact-ratio recipe: HALF_UP at a pinned scale 6 via
    # integer round-half-up — floor((2a + b) / (2b)) for positive a, b
    g = g.withColumn(
        "__ru", F.expr("(2 * __sdp * 10000 + __sp) div (2 * __sp)"))
    out = g.select(
        "l_returnflag", "l_linestatus", "avg_qty", "avg_price",
        "avg_disc_price",
        F.expr("concat(CAST(__ru div 1000000 AS STRING), '.',"
               " lpad(CAST(__ru % 1000000 AS STRING), 6, '0'))")
        .alias("disc_ratio"))
    return sort_by(out, ["l_returnflag", "l_linestatus"])


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — chained multi-key equi joins over the star schema with explicit
    broadcast of the small dims (``pyspark/batch_tomtom.py:102-111`` shape;
    broadcast per SURVEY §4.1 join-strategy row)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
           .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    out = group_agg(j, ["r_name", "n_name"], [
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    ])
    return sort_by(out, ["r_name", "n_name"])


def q_union_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — unionByName with missing-column null-fill
    (``pyspark/batch_stock.py:35``): two drifted projections of lineitem
    unioned, then aggregated so the null-fill is observable."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", "l_returnflag", "l_quantity")
    b = li.select("l_orderkey", "l_returnflag", "l_extendedprice")
    u = union_by_name(a, b)
    return group_agg(u, ["l_returnflag"], [
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.count("l_extendedprice").alias("n_price"),
        stable_round(F.sum("l_quantity"), 2).alias("sum_qty"),
    ])


def q_conform_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — schema conformance: declared-schema projection with widening
    casts and a missing column null-filled (``pyspark/batch_stock.py:11-16``)."""
    target = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("event_type", StringType()),
        StructField("session_score", DoubleType()),  # absent → typed null
        StructField("ts", TimestampType()),
    ])
    return conform(_t(spark, sf_dir, "events"), target)


def q_onehot_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/P10/P11 — literal one-hot + other-flag + horizontal sum
    (``pyspark/ML_stock.py:95-120``)."""
    ev = _t(spark, sf_dir, "events")
    ev = one_hot(ev, "event_type", ["click", "view", "purchase"],
                 prefix="et", other_col="et_other")
    ev = ev.withColumn("flag_sum", horizontal_sum(
        [F.col(c) for c in ["et_click", "et_view", "et_purchase", "et_other"]]))
    return ev.select("event_id", "et_click", "et_view", "et_purchase", "et_other", "flag_sum")


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — calendar featurization (``pyspark/ML_stock.py:87-90``); Spark
    dayofweek convention Sunday=1."""
    ev = calendar_features(_t(spark, sf_dir, "events"), "ts")
    return ev.select("event_id", "hour", "dayofweek", "month")


def q_interval_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family — interval arithmetic + date/hour derivation with the
    reference's −20-minute skew (``pyspark/batch_stock.py:70-74``)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts", skew_minutes=20,
                        date_col="date_skewed", hour_col="hour_skewed")
    return ev.select("event_id", "date_skewed", "hour_skewed")


def q_serving_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 key building in-engine — composite ``{date}_{hour}`` and
    timestamp-formatted keys (``pyspark/batch_stock.py:120``,
    ``stream_combined.py:233``), replacing driver-side Python string building."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    return ev.select(
        "event_id",
        F.concat_ws("_", F.col("date").cast("string"), F.col("hour").cast("string")).alias("row_key"),
        F.date_format("ts", "yyyy-MM-dd_HH-mm").alias("minute_key"),
    )


def q_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — typed from_json payload parse (``pyspark/stream_combined.py:49-69``)
    on the events ``props`` JSON column, one select, no string detour."""
    ev = _t(spark, sf_dir, "events")
    schema = StructType([StructField("k", IntegerType())])
    out = ev.withColumn("props_parsed", F.from_json(F.col("props"), schema))
    return out.select("event_id", F.col("props_parsed.k").alias("prop_k"))


def q_asof_minute_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — truncation-based temporal alignment: per-minute event counts
    self-joined through ``date_trunc('minute')`` (``pyspark/ML_stock.py:125,175``)."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")) \
                .agg(F.count(F.lit(1)).alias("n_in_minute"))
    aligned = ev.withColumn("minute", F.date_trunc("minute", "ts")) \
                .join(per_min, on="minute", how="inner")
    return aligned.select("event_id", "minute", "n_in_minute")


def q_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (batch flavor) — equi+interval join: each error event matched to
    the same user's click events within ±30 min (the tolerance + equality shape
    of ``pyspark/stream_combined.py:190-198``)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error") \
               .select(F.col("event_id").alias("err_id"), F.col("user_id").alias("err_user"),
                       F.col("ts").alias("err_ts"))
    clicks = ev.filter(F.col("event_type") == "click") \
               .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("click_user"),
                       F.col("ts").alias("click_ts"))
    j = interval_join(errors, clicks, "err_ts", "click_ts", 1800.0,
                      extra_eq=[("err_user", "click_user")], how="inner")
    return j.select("err_id", "click_id", "err_user")


def q_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 scale flavor — interval join with NO equality key (every error
    matched to every click within ±2 min, across all users): the
    tolerance-width bin bucketing turns the would-be nested-loop into an
    equi hash join (3 candidate bins per left row), with the exact range
    refined post-join."""
    from bda_spadochrony_spark.operators.joins import binned_interval_join
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error") \
               .select(F.col("event_id").alias("err_id"),
                       F.col("ts").alias("err_ts"))
    clicks = ev.filter(F.col("event_type") == "click") \
               .select(F.col("event_id").alias("click_id"),
                       F.col("ts").alias("click_ts"))
    j = binned_interval_join(errors, clicks, "err_ts", "click_ts", 120.0)
    return j.select("err_id", "click_id")


def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k per group (partitioned row_number — the scale-safe
    alternative to a global sort; SURVEY §2.5 absent-ops row)."""
    ev = _t(spark, sf_dir, "events")
    return top_k_per_group(ev, ["event_type"],
                           [F.col("value").desc(), F.col("event_id").asc()], 3) \
        .select("event_type", "event_id", "value")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the documents table: canonical row per distinct text
    (keep lowest doc_id), with duplicate multiplicity."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies")


def q_exact_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, scale path: group on the 64-bit xxhash64 content digest
    (``operators.dedup.exact_dedup_by_hash``) so the shuffle carries 8 bytes
    per row instead of the raw document — the form the module docstring
    mandates for 100 TB. The digest itself is engine-specific, so the
    output drops it; keep-id + multiplicity equal the raw GROUP BY text
    result whenever xxhash64 is collision-free on the corpus (P(collision)
    ≈ n²/2^65 ≈ 7e-15 at 500 docs — and a collision would fail the oracle
    loudly, not silently)."""
    from bda_spadochrony_spark.operators.dedup import exact_dedup_by_hash
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_by_hash(docs, "text", "doc_id") \
        .select("keep_doc_id", "n_copies")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (r6): top-20 documents for the query
    {spark, stream, window} — the lexical-search / hard-negative-mining
    baseline next to the embedding ANN stack. Token explode filtered to
    the query terms BEFORE any shuffle; corpus stats and per-term doc
    frequencies broadcast; TakeOrdered head. ln + arithmetic only, so
    the full ranking is value-oracled."""
    from bda_spadochrony_spark.operators.corpus import bm25_topk
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text",
                     ["spark", "stream", "window"], k=20)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained SPAN-level duplicate detection (r6): 10-token
    windows at stride 5, md5-fingerprinted; a span duplicated across >=2
    distinct documents marks boilerplate document-level dedup misses.
    Per-doc (n_spans, n_dup_spans, dup_ratio) — the contamination
    measure a corpus filter thresholds on. Fully oracled: md5, window
    slicing, and the distinct-doc digest count are engine-portable."""
    from bda_spadochrony_spark.operators.dedup import duplicate_spans
    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text",
                           span_tokens=10, stride=5, min_docs=2)


def q_tz_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 timezone path — the reference's exact wall-clock derivation
    (``pyspark/batch_stock.py:70-74``): ``from_utc_timestamp(ts,
    'America/New_York')`` − 20 minutes → date/hour, then the hourly
    aggregate. Crosses a DST boundary iff the data does; oracled against
    DuckDB's session-tz-independent ``timezone('America/New_York',
    timezone('UTC', ts))`` — SURVEY §7.4 risk 4 (cross-engine tz
    agreement) made a hard correctness row."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts",
                        tz="America/New_York", skew_minutes=20)
    agg = group_agg(ev, ["date", "hour"], [
        F.count(F.lit(1)).alias("cnt"),
        stable_round(F.avg("value"), 2).alias("avg_value")])
    return sort_by(agg, ["date", "hour"])


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — token count + char stats per document, all JVM-side
    built-ins (no UDFs)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        stable_round(F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")) /
                     F.greatest(F.length("text"), F.lit(1)), 4).alias("vowel_ratio"),
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (the one streaming join family the engine
    had not yet evidenced): the event stream joins the CURRENT snapshot
    of a static customer dimension per micro-batch — broadcast, so the
    fact stream never shuffles for the join — then aggregates counts and
    value sums per (market segment, event type). Complete mode; the
    oracle is the equivalent batch join+group."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.ops import stream_static_join
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet",
                             EVENTS_SCHEMA)
        dim = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"))
        enriched = stream_static_join(stream, dim, ["user_id"])
        agg = (enriched.groupBy("segment", "event_type")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    stable_round(F.sum("value"), 2).alias("sum_value")))
        return run_available_now(spark, agg, output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour distinct users on a stream: Spark forbids
    count(DISTINCT) in streaming aggregates, so the engine ships the
    dedup-then-count pattern — watermarked dropDuplicates on
    (window, user) then a plain windowed count. Both stages watermark-
    bounded; complete mode so the batch oracle checks every window
    exactly. The 30-day delay covers the events fixture's full
    event-time spread, so the count stays exact even when the drain
    splits into multiple out-of-order micro-batches (the 1-minute
    default would silently drop late rows then — ADVICE r5); NULL
    user_ids are excluded by the operator, matching the oracle's
    count(DISTINCT user_id)."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.ops import stream_windowed_distinct
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet",
                             EVENTS_SCHEMA)
        agg = stream_windowed_distinct(stream, "ts", "user_id", "1 hour",
                                       delay="30 days")
        return run_available_now(spark, agg, output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T4/S8 — Structured Streaming pipeline run to completion: file
    source → event-time tumbling window aggregate → memory sink
    (``availableNow``), returned as a batch frame. Complete output mode so
    every window is emitted and the batch oracle can check it exactly."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    # state-sized shuffle partitions (see q_stream_join_outer)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
        agg = (stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                     .agg(F.count(F.lit(1)).alias("cnt"),
                          stable_round(F.avg("value"), 2).alias("avg_value"))
                     .select(F.col("w.start").alias("window_start"), "event_type",
                             "cnt", "avg_value"))
        return run_available_now(spark, agg, output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 update-mode flavor + UNWINDOWED streaming aggregation: running
    per-event-type totals over the stream, drained with availableNow in
    update mode. The single-file source drains as one micro-batch, so the
    update stream emits each key exactly once with its final value — which
    is what lets plain GROUP BY SQL oracle an update-mode stream."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            stable_round(F.sum("value"), 2).alias("sum_value"))
        return run_available_now(spark, agg, output_mode="update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — the reference's SIGNATURE operator: stream-stream FULL-OUTER
    interval join (``pyspark/stream_combined.py:190-198`` — 1-minute
    watermarks :174,:182, same-date equality conjunct + ±30 s bound,
    fullOuter :197), run to completion over two file streams and checked
    against the batch full-outer SQL.

    Determinism: outer (null-padded) rows only flush once the watermark
    passes their join bound, and the GLOBAL watermark is the min across
    both input streams — min(max err_ts, max click_ts) − delay. Rows
    within (delay + tolerance) = 90 s of that minimum stay in state
    forever, so BOTH engines filter to ``coalesce(err_ts, click_ts) <=
    min(side maxima) − 2 min``, strictly below the flush horizon.
    Everything the filter keeps has provably been emitted."""
    import datetime
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.ops import state_partitions_for
    from bda_spadochrony_spark.streaming.runner import run_available_now
    from bda_spadochrony_spark.plans.stream_fused import fused_stream_join
    configure(spark)
    side_max, n_events = _t(spark, sf_dir, "events").agg(
        F.least(F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts")))),
        F.count(F.lit(1))
    ).collect()[0]
    if side_max is None:
        # one (or both) sides empty: nothing ever flushes from the
        # stream-stream join state, so the deterministic output is empty
        # — a NULL fit aggregate must not crash the builder on an
        # empty-partition day (r9 zero-row edge fixture)
        return (_t(spark, sf_dir, "events")
                .where(F.lit(False))
                .select(F.col("event_id").alias("err_id"),
                        F.col("user_id").alias("err_user"),
                        F.col("ts").alias("err_ts"),
                        F.col("event_id").alias("click_id"),
                        F.col("user_id").alias("click_user"),
                        F.col("ts").alias("click_ts")))
    cutoff = side_max - datetime.timedelta(minutes=2)
    # streaming jobs size shuffle partitions to STATE VOLUME, not to the
    # batch default: every micro-batch writes one state file per
    # partition, so oversized counts are file churn at small state (the
    # r4 lesson) while undersized counts serialize the state machine at
    # large state (r7, measured at 10x: 134 s at the sf0.1-tuned sp=8
    # vs 67 s at sp=32). state_partitions_for derives the count from
    # the input volume — the same fit agg that finds the watermark
    # cutoff supplies it (no extra job); sf0.01-0.1 stay at 8.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(state_partitions_for(n_events)))
    try:
        errors = (file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
                  .where(F.col("event_type") == "error")
                  .select(F.col("event_id").alias("err_id"),
                          F.col("user_id").alias("err_user"),
                          F.col("ts").alias("err_ts")))
        clicks = (file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
                  .where(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("click_user"),
                          F.col("ts").alias("click_ts")))
        joined = fused_stream_join(errors, clicks, "err_ts", "click_ts",
                                   tolerance_seconds=30.0, watermark="1 minutes",
                                   how="fullOuter")
        # 300 s covers the drain at every driver scale; the 10x scale
        # harness raises it via env (sf1 under RocksDB needs ~400 s)
        out = run_available_now(
            spark, joined,
            timeout_s=int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT_S",
                                         "300")))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.where(F.coalesce("err_ts", "click_ts") <= F.lit(cutoff)) \
              .select("err_id", "err_user", "err_ts",
                      "click_id", "click_user", "click_ts")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — watermarked streaming dedup run to completion: the events file
    read as TWO file streams unioned (every event arrives twice — the
    injected-duplicate fixture), then ``stream_dedup`` on event_id with a
    1-minute watermark drops the copies. State holds one entry per key
    inside the watermark horizon (reference intent at
    ``pyspark/stream_combined.py:71,173,181``).

    Deterministic without a cutoff filter: dropDuplicates emits a key's
    first row immediately (append mode, no watermark wait); a copy landing
    in a later micro-batch is dropped either by state (ts inside the
    horizon) or as too-late (ts behind the watermark) — exactly one row
    per event_id either way."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.ops import stream_dedup
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        once = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
        twice = once.union(
            file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA))
        deduped = stream_dedup(twice, ["event_id"], "ts") \
            .select("event_id", "ts", "user_id", "event_type", "value")
        out = run_available_now(spark, deduped, timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def q_stream_serving_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11+T6+S13 — the lambda architecture's serving leg end to end
    (reference ``pyspark/stream_combined.py:75-128,227-256``): a model is
    fit on the batch events table (M5), then the events FILE STREAM runs
    streaming feature build + model inference (T6), a composite serving
    key is built in-plan (S13), and the scored rows land through the
    ``foreachBatch`` distributed parquet serving sink (S11, idempotent per
    batch_id) — the query result is the serving table read back.

    Prediction VALUES aren't SQL-expressible, so the oracle verifies the
    deterministic serving columns plus a ``scored`` flag asserting every
    row carries a prediction; MAE-level model checks live in tests/test_ml.
    """
    import tempfile
    from bda_spadochrony_spark.ml.features import build_features, assemble_vector
    from bda_spadochrony_spark.ml.regress import make_regressor
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch
    from bda_spadochrony_spark.plans.stream_fused import serving_batch_writer
    configure(spark)
    cats, cols = ["click", "view", "purchase"], \
        ["hour", "dayofweek", "month", "et_click", "et_view", "et_purchase", "et_other"]
    batch = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    feats_b = build_features(batch, "ts", "event_type", cats, prefix="et")
    model = make_regressor("value", n_estimators=5).fit(
        assemble_vector(feats_b, cols))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
        feats_s = build_features(stream, "ts", "event_type", cats, prefix="et")
        scored = model.transform(assemble_vector(feats_s, cols))
        keyed = scored.select(
            "event_id",
            F.concat_ws("_", F.to_date("ts").cast("string"),
                        F.hour("ts").cast("string")).alias("row_key"),
            "event_type", "value",
            F.col("prediction").isNotNull().alias("scored"))
        sink = tempfile.mkdtemp(prefix="bda_serving_")
        query = run_foreach_batch(keyed, serving_batch_writer(sink),
                                  available_now=True)
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("serving-sink drain did not finish within 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(sink).drop("batch_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection — exact n-gram Jaccard over all shingle-sharing
    pairs (inverted-index explode + equi join), threshold 0.5."""
    from bda_spadochrony_spark.operators.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, min_jaccard=0.5)
    return out.select("id_a", "id_b", stable_round(F.col("jaccard"), 6).alias("jaccard"))


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (16 signatures, 16 bands → candidate
    recall ≈1-(1-j)^16 at jaccard j; with the n_bands≥2 pre-filter the miss
    probability for a true j≥0.5 pair is P(Binom(16,j)<2) ≈ 2.6e-4, and the
    corpus's actual near-dups sit at j≥0.8 where it is ~4e-10) with exact
    Jaccard verification at 0.5 — returns the same verified pair set as the
    exhaustive q_ngram_jaccard, so it shares that SQL oracle; the LSH stage
    only prunes candidates."""
    from bda_spadochrony_spark.operators.dedup import minhash_dedup
    docs = _t(spark, sf_dir, "documents")
    out = minhash_dedup(docs, "doc_id", "text", num_hashes=16, bands=16,
                        shingle_n=3, min_jaccard=0.5)
    return out.select("id_a", "id_b", stable_round(F.col("jaccard"), 6).alias("jaccard"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (64-bit fingerprints, 8-bit prefix
    buckets, Hamming ≤ 12). Rows-only BY DESIGN, documented refusal
    (VERDICT r14 #8): the fingerprint hashes shingles with Spark's
    native ``xxhash64`` (XXH64, seed 42), for which DuckDB has no
    equivalent — its ``hash()`` is a different function family, so no
    portable SQL can reproduce these fingerprint bits. The algorithm
    itself (prefix-bucket join + popcount verify) is hash-agnostic and
    fully oracled through the md5 twin ``simhash_md5_pairs``; this
    query exists to keep the PRODUCTION hash (xxhash64 is ~an order of
    magnitude cheaper than md5 at 100 TB) on the driver's surface."""
    from bda_spadochrony_spark.operators.dedup import simhash, simhash_near_pairs
    docs = _t(spark, sf_dir, "documents")
    fp = simhash(docs, "doc_id", "text", bits=64, shingle_n=2)
    return simhash_near_pairs(fp, "doc_id", max_hamming=12, prefix_bits=8)


def q_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash near-dup twin: 32-bit md5-derived
    fingerprints, 8-bit prefix buckets, Hamming ≤ 8 — unlike the
    xxhash64 ``simhash_pairs`` this one is fully oracled (md5 and integer
    bit ops agree across engines)."""
    from bda_spadochrony_spark.operators.dedup import simhash_md5, simhash_near_pairs
    docs = _t(spark, sf_dir, "documents")
    fp = simhash_md5(docs, "doc_id", "text", bits=32, shingle_n=2)
    return simhash_near_pairs(fp, "doc_id", max_hamming=8, prefix_bits=8,
                              bits=32)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprints (xxhash64-based →
    rows-only check; dup-equality is asserted in unit tests)."""
    from bda_spadochrony_spark.operators.text import fingerprint
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, "doc_id", "text").select("doc_id", "fingerprint")


def q_doc_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable fingerprint twin: min-md5 over sliding 5-token
    windows (winnowing's select-the-minimum rule, document-wide). md5 and
    string ordering are engine-independent, so unlike the xxhash64 variant
    this one is fully oracled against DuckDB."""
    from bda_spadochrony_spark.operators.text import fingerprint_md5
    docs = _t(spark, sf_dir, "documents")
    return fingerprint_md5(docs, "doc_id", "text").select("doc_id", "fingerprint")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors per embedding (exact ANN
    baseline): distributed block matmul — corpus×query tiles meet in
    cogrouped applyInPandas tasks, each scored as one BLAS matmul; the
    driver never materializes either side (collect-free scale path)."""
    from bda_spadochrony_spark.operators.similarity import cosine_topk_blocked
    emb = _t(spark, sf_dir, "embeddings")
    # 4×4 tiles suit the testdata corpus (≤2k vectors/side); scale block
    # counts with corpus size so a tile stays within executor memory
    out = cosine_topk_blocked(emb, emb, "vec_id", "vec_id", k=3,
                              corpus_blocks=4, query_blocks=4)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed cosine top-1 (the approximate scale path;
    recall < 1 by design → rows-only check, recall asserted in unit tests).
    Queries == corpus here, so the query side is explicitly NOT broadcast —
    a corpus-sized broadcast would OOM the executors at scale; the shuffled
    bucket join partitions both sides by bucket instead. planes is left
    at the round-7 default (None → ``planes_for(corpus count)``), so the
    index re-sizes itself as the corpus grows instead of going
    quadratic-in-bucket (the rule BENCH_SF1 measured)."""
    from bda_spadochrony_spark.operators.similarity import lsh_bucket_topk
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(emb, emb, "vec_id", "vec_id", k=1, dim=64,
                          broadcast_queries=False)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_embedding_ann_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack in one query — LSH bucket (portable
    literal planes) → cheap int8-code approximate scoring (scales cancel
    in the cosine, so candidate ranking is pure integer dot products) →
    exact float64 cosine rerank of each query's top-10 candidates, k=3.
    At 100 TB the bucket is the partition key, the int8 codes are the
    only columns the candidate scan reads, and full-precision vectors
    load just for the rerank. Every stage is engine-portable → fully
    oracled.

    The plane count is sized FROM the corpus (``planes_for(n)``, round-7
    default — VERDICT r6 #2): a fixed count made the bucket self-join
    quadratic at 10× the vectors (BENCH_SF1's 17×), while the sized
    index holds candidate volume ≈ n·target_bucket at any scale. The
    oracle inlines planes generated from the SAME rule at the driver's
    correctness scale (``_oracle_embedding_count``), so both engines
    bucket identically."""
    from bda_spadochrony_spark.operators.similarity import (
        deterministic_planes, planes_for, quantize_embeddings,
        valid_vectors, with_hyperplane_bucket)
    from pyspark.sql import Window
    emb = _t(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    pm = deterministic_planes(planes_for(n_vec), 64)
    # valid_vectors at entry (r9): the exact rerank divides by the RAW
    # norm, which underflows to 0 for sub-1e-154 vectors even when their
    # int8 codes are representable — the norm-window guard drops them
    # before the ANSI division (mirrored in the oracle's n CTE)
    base = valid_vectors(emb, "embedding") \
        .select(F.col("vec_id"),
                F.col("embedding").cast("array<double>").alias("v"))
    base = with_hyperplane_bucket(base, "v", pm)
    qz = quantize_embeddings(emb, "vec_id").select("vec_id", "q")
    idot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, v: acc + v)
    d = (base.join(qz, "vec_id")
         .withColumn("qn", F.sqrt(idot(F.col("q"), F.col("q")).cast("double"))))
    # Checkpoint before the bucket self-join: AQE never cross-stage-reuses
    # the exchange, so both sides would otherwise recompute the 8-plane
    # projections + quantization (the same failure minhash_dedup fixes —
    # dedup.py). One row per vector (codes + norm) — tiny at any scale.
    d = d.localCheckpoint(eager=False)
    a = d.select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"),
                 F.col("q").alias("qa"), F.col("qn").alias("qna"),
                 "bucket")
    b = d.select(F.col("vec_id").alias("corpus_id"),
                 F.col("v").alias("cv"),
                 F.col("q").alias("qb"), F.col("qn").alias("qnb"),
                 "bucket")
    pairs = (a.join(b, "bucket")
             .where((F.col("query_id") != F.col("corpus_id")) &
                    (F.col("qna") > 0) & (F.col("qnb") > 0))
             .withColumn("approx",
                         idot(F.col("qa"), F.col("qb")).cast("double") /
                         (F.col("qna") * F.col("qnb"))))
    w1 = Window.partitionBy("query_id").orderBy(F.col("approx").desc(),
                                                F.col("corpus_id").asc())
    cand = (pairs.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= 10))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0),
                                       lambda acc, v: acc + v * v))
    exact = cand.withColumn("cosine", dot / (nrm(F.col("qv")) * nrm(F.col("cv"))))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("corpus_id").asc())
    out = (exact.withColumn("rn2", F.row_number().over(w2))
           .where(F.col("rn2") <= 3))
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes under the full value oracle (r10 —
    Jégou et al. 2011): deterministic-subset codebooks (the 16 smallest
    valid ids per 8-dim subspace, the ivf_portable convention), map-only
    argmin encoding. Codes are m·log2(k) = 32 bits per 64-dim vector —
    the compression rung between int8 (4×) and the coarse quantizer; a
    100 TB candidate scan reads ONLY this column. The oracle derives the
    identical codebooks from the table itself (no literals needed — the
    subset rows ARE the codebook) and restates the per-subspace argmin
    with the row_number tie-break."""
    from bda_spadochrony_spark.operators.similarity import (pq_codebooks,
                                                            pq_encode)
    emb = _t(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(emb, "vec_id", m=8, k=16)
    out = pq_encode(emb, "vec_id", codebooks=cbs)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes"))


def q_embedding_pq_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ search stack end to end (r10): LSH bucket (portable literal
    planes) → ADC approximate scoring — each candidate's cosine against
    the query computed from its RECONSTRUCTED (centroid-concatenation)
    vector, i.e. the corpus side is read as 32-bit codes, never floats —
    → exact float64 rerank of each query's top-10, k=3. The asymmetric-
    distance sibling of ``embedding_ann_stack``'s int8 stage: PQ codes
    are 16× smaller than the int8 codes that query scans. Fully oracled:
    planes, subset codebooks, reconstruction (flattened per-subspace
    centroid slices), and both rank stages restate exactly."""
    from bda_spadochrony_spark.operators.similarity import (
        _pq_corpus_cols, deterministic_planes, planes_for, pq_codebooks,
        valid_vectors, with_hyperplane_bucket)
    from pyspark.sql import Window
    emb = _t(spark, sf_dir, "embeddings")
    pm = deterministic_planes(planes_for(emb.count()), 64)
    cbs = pq_codebooks(emb, "vec_id", m=8, k=16)
    base = valid_vectors(emb, "embedding").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    base = with_hyperplane_bucket(base, "v", pm)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0),
                                       lambda acc, x: acc + x * x))
    # encode + reconstruction + both norms through ONE fused map-only
    # kernel (r15 — values pinned bit-identical to the expression twins;
    # the literal trees billed ~3 s of per-call Catalyst analysis and
    # the separate encode frame forced a join-shuffle,
    # tools/bench_ivfpq_split.py / OPTIMIZATION_r15.md)
    d = _pq_corpus_cols(base, "v", cbs, keep=["vec_id", "v", "bucket"],
                        want_r=True, want_rnm=True, want_qn=True)
    # checkpoint before the bucket self-join (the ann_stack rule: AQE
    # never cross-stage-reuses, so both sides would re-encode otherwise)
    d = d.localCheckpoint(eager=False)
    a = d.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("qn").alias("qna"), "bucket")
    b = d.select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("cv"),
                 F.col("r").alias("rb"), F.col("rnm").alias("rnb"), "bucket")
    dot = lambda x, y: F.aggregate(F.zip_with(x, y, lambda p, q: p * q),
                                   F.lit(0.0), lambda acc, t: acc + t)
    pairs = (a.join(b, "bucket")
             .where((F.col("query_id") != F.col("corpus_id")) &
                    (F.col("qna") > 0) & (F.col("rnb") > 0))
             .withColumn("approx", dot(F.col("qv"), F.col("rb")) /
                         (F.col("qna") * F.col("rnb"))))
    w1 = Window.partitionBy("query_id").orderBy(F.col("approx").desc(),
                                                F.col("corpus_id").asc())
    cand = (pairs.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= 10))
    exact = cand.withColumn(
        "cosine", dot(F.col("qv"), F.col("cv")) /
        (nrm(F.col("qv")) * nrm(F.col("cv"))))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("corpus_id").asc())
    out = (exact.withColumn("rn2", F.row_number().over(w2))
           .where(F.col("rn2") <= 3))
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


_PQ_N_CTE = """n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), cb AS (
                -- deterministic-subset codebooks: row j of the 16
                -- smallest valid ids IS centroid j of every subspace
                -- (its slice [s*8+1 : s*8+8])
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
                FROM n ORDER BY vec_id LIMIT 16
            ), sub AS (
                SELECT n.vec_id, s.range AS s, cb.j,
                       list_dot_product(
                           [n.v[s.range*8 + i + 1] - cb.v[s.range*8 + i + 1]
                            for i in range(8)],
                           [n.v[s.range*8 + i + 1] - cb.v[s.range*8 + i + 1]
                            for i in range(8)]) AS d2
                FROM n CROSS JOIN range(8) s CROSS JOIN cb
            ), best AS (
                SELECT vec_id, s, j FROM (
                    SELECT vec_id, s, j,
                           row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY d2 ASC, j ASC) AS rn
                    FROM sub) WHERE rn = 1
            )"""


def _pq_stack_oracle() -> str:
    """Planes (literal, sized from the oracle-scale corpus) + the subset
    codebooks/argmin CTEs shared with pq_codes + reconstruction as
    flattened per-subspace centroid slices + the two rank stages."""
    from bda_spadochrony_spark.operators.similarity import (
        deterministic_planes, planes_for)
    pm = deterministic_planes(planes_for(_oracle_embedding_count()), 64)
    bits = "\n                   || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in row)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for row in pm)
    return f"""
            WITH {_PQ_N_CTE}, rec AS (
                SELECT best.vec_id,
                       flatten(list(cb.v[best.s*8 + 1 : best.s*8 + 8]
                                    ORDER BY best.s)) AS r
                FROM best JOIN cb USING (j) GROUP BY 1
            ), b AS (
                SELECT n.vec_id, n.v, rec.r,
                       sqrt(list_dot_product(n.v, n.v)) AS qn,
                       sqrt(list_dot_product(rec.r, rec.r)) AS rnm,
                   {bits} AS bucket
                FROM n JOIN rec USING (vec_id)
            ), pairs AS (
                SELECT qa.vec_id AS query_id, cr.vec_id AS corpus_id,
                       qa.v AS qv, cr.v AS cv,
                       list_dot_product(qa.v, cr.r) / (qa.qn * cr.rnm)
                       AS approx
                FROM b qa JOIN b cr
                  ON qa.bucket = cr.bucket AND qa.vec_id != cr.vec_id
                WHERE qa.qn > 0 AND cr.rnm > 0
            ), cand AS (
                SELECT query_id, corpus_id, qv, cv FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, corpus_id ASC) AS rn
                    FROM pairs) WHERE rn <= 10
            ), exact AS (
                SELECT query_id, corpus_id,
                       list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(cv, cv))) AS cos
                FROM cand
            ), ranked AS (
                SELECT query_id, corpus_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, corpus_id ASC)
                       AS rn
                FROM exact
            )
            SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
            FROM ranked WHERE rn <= 3
        """


def q_embedding_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ self-search (r10 — the canonical FAISS pairing): the coarse
    quantizer prunes WHICH rows each query scores (n_probe=2 nearest
    cells; the corpus lives in its primary cell — the parquet partition
    key at rest), PQ prunes WHAT the scoring reads (ADC against 32-bit
    reconstructed codes, never the float column), and the exact float64
    rerank of each query's top-10 restores precision for k=3. Subset
    centers (cells_for-sized) and subset codebooks throughout — fully
    oracled with the probe/assignment tie-breaks restated exactly."""
    from bda_spadochrony_spark.operators.similarity import ivf_pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_pq_topk(emb, "vec_id", k=3, n_probe=2)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_embedding_ivf_pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ self-search under the PRODUCTION quantizer (r11, VERDICT
    r10 #2 — the configuration you would run at 100×): balanced KMeans
    centers (`kmeans_centers`, seeded MLlib fit at the same
    corpus-calibrated cell count) replace the contract twin's
    deterministic-subset centers. Balance is the candidate-volume lever
    on clustered data — measured at sf1, KMeans at the SAME k cut
    candidate pairs 2.4× where doubling subset cells managed 1.27×
    (SCALE.md r10 ladder). Rows-only by declared design (MLlib's
    iterative fit is not SQL-restatable); the oracled twin is
    `embedding_ivf_pq`, and recall-vs-exact + the candidate cut are
    pinned in tests/test_pipeline_ops.py.

    The centers are a PERSISTED artifact (r11): fit once per
    (user, corpus version) into the uid-scoped cache keyed by the
    embeddings file's mtime/size — regenerating the table refits, a
    repeat call reuses. This is the production contract the
    `kmeans_centers` docstring states (a quantizer is refit on drift,
    never per query), and what a resident engine's number should
    measure."""
    from bda_spadochrony_spark.operators.similarity import (ivf_pq_topk,
                                                            kmeans_centers)
    emb = _t(spark, sf_dir, "embeddings")
    centers_dir = _roundtrip_cache_dir(
        "kmc_s42", sf_dir,
        # repartition(1), not coalesce(1): coalescing a LocalTableScan
        # (the centers are a createDataFrame'd list) measured ~5 s of
        # scheduling stall per write at local[32] (r14, bpe_save A/B)
        lambda staging: kmeans_centers(emb, "embedding", seed=42)
        .repartition(1).write.mode("overwrite").parquet(staging),
        src_name="embeddings.parquet")
    centers = spark.read.parquet(centers_dir)
    out = ivf_pq_topk(emb, "vec_id", k=3, n_probe=2, centers=centers)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def _ivf_pq_oracle(cells: int) -> str:
    """The pq_codes codebook/argmin CTEs + subset IVF centers with the
    probed (rn<=2) query side and primary (rn=1) corpus side + ADC
    scoring + the two rank stages."""
    return f"""
        WITH {_PQ_N_CTE}, rec AS (
            SELECT best.vec_id,
                   flatten(list(cb.v[best.s*8 + 1 : best.s*8 + 8]
                                ORDER BY best.s)) AS r
            FROM best JOIN cb USING (j) GROUP BY 1
        ), cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
            FROM n ORDER BY vec_id LIMIT {cells}
        ), dists AS (
            SELECT n.vec_id, n.v, cent.cell,
                   list_dot_product(
                       [n.v[i+1] - cent.c[i+1] for i in range(64)],
                       [n.v[i+1] - cent.c[i+1] for i in range(64)]) AS d2
            FROM n, cent
        ), ranked_cells AS (
            SELECT vec_id, v, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM dists
        ), probes AS (
            SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS qn
            FROM ranked_cells WHERE rn <= 2
        ), assigned AS (
            SELECT rc.vec_id, rc.v, rc.cell, rec.r,
                   sqrt(list_dot_product(rec.r, rec.r)) AS rnm
            FROM ranked_cells rc JOIN rec USING (vec_id) WHERE rc.rn = 1
        ), pairs AS (
            -- ADC numerator in the engine's LUT order: per-subspace
            -- dots (index-ordered folds), summed left-to-right over s
            SELECT p.vec_id AS query_id, a.vec_id AS corpus_id,
                   p.v AS qv, a.v AS cv,
                   (list_dot_product(p.v[1:8], a.r[1:8])\n                    + list_dot_product(p.v[9:16], a.r[9:16])\n                    + list_dot_product(p.v[17:24], a.r[17:24])\n                    + list_dot_product(p.v[25:32], a.r[25:32])\n                    + list_dot_product(p.v[33:40], a.r[33:40])\n                    + list_dot_product(p.v[41:48], a.r[41:48])\n                    + list_dot_product(p.v[49:56], a.r[49:56])\n                    + list_dot_product(p.v[57:64], a.r[57:64]))
                   / (p.qn * a.rnm) AS approx
            FROM probes p JOIN assigned a
              ON a.cell = p.cell AND a.vec_id != p.vec_id
            WHERE p.qn > 0 AND a.rnm > 0
        ), cand AS (
            SELECT query_id, corpus_id, qv, cv FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY approx DESC, corpus_id ASC) AS rn
                FROM pairs) WHERE rn <= 10
        ), exact AS (
            SELECT query_id, corpus_id,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))) AS cos
            FROM cand
        ), ranked AS (
            SELECT query_id, corpus_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, corpus_id ASC)
                   AS rn
            FROM exact
        )
        SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
        FROM ranked WHERE rn <= 3
    """


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (per-vector scale
    + int8 codes) — engine-portable floor rounding, fully oracled. The
    code array is serialized to a comma-joined string for the driver's
    hash (its pandas canonicalization cannot sort raw numpy arrays —
    the proven q_array_agg pattern, CORRECTNESS_r04 err)."""
    from bda_spadochrony_spark.operators.similarity import quantize_embeddings
    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "vec_id")
    return out.select("vec_id", stable_round(F.col("scale"), 6).alias("scale"),
                      F.concat_ws(",", F.col("q").cast("array<string>"))
                      .alias("q"))


def q_embedding_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with FIXED subset centers (vectors with vec_id < 16 act
    as the 16 coarse centroids) — the fully-oracled twin of
    embedding_ivf_topk: cell assignment and probing become pure
    engine-independent expressions (the KMeans variant stays rows-only)."""
    from bda_spadochrony_spark.operators.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"))
    out = ivf_topk(emb, emb, "vec_id", "vec_id", k=3, n_lists=16, n_probe=4,
                   centers=centers)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_quantizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIZER DRIFT MONITOR (r12, VERDICT r11 #3 — ties the
    maintenance loop together: `corpus_diff` measures dataset change,
    `kmeans_centers` is the persisted refit-on-drift artifact, the IVF
    index contract says refit-means-rebuild; this query decides WHEN).
    The subset quantizer (vec_id < 16, the embedding_ivf_portable
    convention) is profiled at "fit time" (the embeddings table as-is)
    and against a DETERMINISTICALLY DRIFTED live corpus (vectors with
    vec_id ≡ 0 mod 3 scaled ×1.5 — a density shift both engines restate
    exactly), then `quantizer_drift` emits the per-cell smoothed
    occupancy fractions, KL contributions, and mean-assignment-distance
    ratios. Fully oracled: assignment is the shared primary-cell rule
    (already SQL-restated by every IVF oracle), the profiles and drift
    terms are plain aggregates over quantizer-sized frames. The
    threshold semantics (`drift_decision`: KL > 0.1 or inflation > 1.5
    → rebuild) are pinned in tests/test_pipeline_ops.py — a drifted
    corpus trips the rule, a refit on the drifted corpus restores it."""
    from bda_spadochrony_spark.operators.similarity import (
        quantizer_drift, quantizer_profile)
    emb = _t(spark, sf_dir, "embeddings")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"))
    drifted = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 3 == 0,
               F.transform(F.col("embedding").cast("array<double>"),
                           lambda x: x * F.lit(1.5)))
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"))
    ref = quantizer_profile(emb, centers, "vec_id")
    cur = quantizer_profile(drifted, centers, "vec_id")
    d = quantizer_drift(cur, ref)
    return d.select(
        "cell", "n", "ref_n",
        stable_round(F.col("p"), 6).alias("p"),
        stable_round(F.col("q"), 6).alias("q"),
        stable_round(F.col("kl_term"), 6).alias("kl_term"),
        stable_round(F.col("d2_ratio"), 4).alias("d2_ratio"))


def q_stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN-INDEX MAINTENANCE end to end (r11): the embeddings
    table arrives as TWO sequential file-source drains sharing one
    checkpoint (the stream_near_dup staging pattern); each micro-batch is
    assigned to its coarse cell against the FIXED subset quantizer
    (vec_id < 16 — the embedding_ivf_portable convention) and appended to
    the cell-partitioned on-disk index (`ann_index_append`), then the
    full table queries the INDEX via the partition-pruned search
    (`ann_index_topk`, n_probe=4, k=3). The index layout is
    semantics-preserving, so the result is value-identical to the
    one-shot `ivf_topk` over the same quantizer — the oracle IS
    embedding_ivf_portable's SQL, making this an ORACLED streaming-index
    query (the traffic_hourly_fused shared-oracle precedent);
    partition pruning on the search scan is plan-asserted in
    tests/test_streaming.py."""
    import shutil
    import tempfile

    from bda_spadochrony_spark.operators.similarity import ann_index_topk
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_build)
    from bda_spadochrony_spark.streaming.sources import file_stream
    configure(spark)
    emb = _t(spark, sf_dir, "embeddings")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_q_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    # Stage with the table's OWN element type — a float32 staging cast
    # flushes extreme-but-valid float64 corpus vectors (the r11
    # extreme-doubles fixture's [1e-160]*64 row) to all-zero, silently
    # dropping them from the index while the one-shot path keeps them.
    # Precision reduction is the EXPLICIT quantize/PQ path, never an
    # implicit side effect of index staging.
    staged = emb.select("vec_id", "embedding")
    schema = staged.schema
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        staged.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        stream_ann_index_build(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, "vec_id", checkpoint=ckpt)
        staged.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        stream_ann_index_build(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, "vec_id", checkpoint=ckpt)
        out = ann_index_topk(spark, index, emb, "vec_id",
                             centers=centers, k=3, n_probe=4)
        out = out.select("query_id", "corpus_id",
                         stable_round(F.col("cosine"), 6).alias("cosine")) \
                 .localCheckpoint(eager=True)
        shutil.rmtree(base, ignore_errors=True)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_ann_index_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed ANN index at its 100 TB STORAGE RUNG (r12, VERDICT
    r11 #1): same two-drain maintenance loop as `stream_ann_index`, but
    each micro-batch is PQ-ENCODED against fixed subset codebooks and
    the index stores ``(corpus_id, codes, rnm)`` per cell — 32-bit
    codes plus one stored norm, never the float vectors (measured
    ~18× smaller on disk at the 10× fixture; see
    ann_index_append_pq's docstring for the honest parquet numbers). The search (`ann_index_pq_topk`) probes
    n_probe=2 cells, partition-prunes the index scan to them, scores
    through the shared ADC tile, and exact-reranks the bounded
    candidate set against the embeddings table as the full-precision
    side lookup. Centers are the deterministic-subset quantizer at the
    one-shot operator's own size (`cells_for`), codebooks the subset
    codebooks — so the result is VALUE-IDENTICAL to `embedding_ivf_pq`
    and the oracle IS that query's SQL (the stream_ann_index
    shared-oracle precedent, one storage rung further down)."""
    import shutil
    import tempfile

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_pq_topk, cells_for, pq_codebooks, valid_vectors)
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_build_pq)
    from bda_spadochrony_spark.streaming.sources import file_stream
    configure(spark)
    emb = _t(spark, sf_dir, "embeddings")
    n_cells = cells_for(emb.count())
    basev = valid_vectors(emb, "embedding").select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"))
    # the subset-quantizer fit: k smallest valid ids (the ivf_pq_topk
    # convention) — bounded driver collect, the documented fit exception
    rows = basev.orderBy("vec_id").limit(n_cells).collect()
    centers = spark.createDataFrame(
        [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)],
        "cell: int, centroid: array<double>").localCheckpoint()
    cbs = pq_codebooks(emb, "vec_id")
    base = tempfile.mkdtemp(prefix="bda_annidx_pq_q_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    staged = emb.select("vec_id", "embedding")
    schema = staged.schema
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        staged.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        stream_ann_index_build_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, cbs, "vec_id", checkpoint=ckpt)
        staged.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        # compact_every=2 (r13): the second drain leaves two batch dirs,
        # so the drain loop's auto-compaction folds them into ONE
        # batch_id=-1 generation — the search below runs over the
        # compacted, manifest-carrying layout, value-pinned by the oracle
        stream_ann_index_build_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, cbs, "vec_id", checkpoint=ckpt,
            compact_every=2)
        out = ann_index_pq_topk(spark, index, emb, "vec_id", vectors=emb,
                                centers=centers, codebooks=cbs, k=3,
                                n_candidates=10, n_probe=2)
        out = out.select("query_id", "corpus_id",
                         stable_round(F.col("cosine"), 6).alias("cosine")) \
                 .localCheckpoint(eager=True)
        shutil.rmtree(base, ignore_errors=True)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_embedding_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH cosine top-1 with md5-derived LITERAL planes — the
    fully-oracled twin of embedding_lsh_topk: both engines bucket with the
    identical plane constants, so even the approximate ANN path is
    value-verified (the xxhash64-plane variant stays rows-only). The
    plane count follows the corpus-sizing rule (``planes_for``, round-7
    default) — the oracle generates its literal planes from the same
    rule at the driver's correctness scale, keeping both engines'
    buckets identical."""
    from bda_spadochrony_spark.operators.similarity import (
        deterministic_planes, lsh_bucket_topk, planes_for)
    emb = _t(spark, sf_dir, "embeddings")
    pm = deterministic_planes(planes_for(emb.count()), 64)
    out = lsh_bucket_topk(emb, emb, "vec_id", "vec_id", k=1, dim=64,
                          broadcast_queries=False, plane_matrix=pm)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (stopword-hit heuristic) + quality features + composite
    quality score per document — the Gopher/C4-style filter inputs."""
    from bda_spadochrony_spark.operators.text import detect_language, quality_score
    docs = _t(spark, sf_dir, "documents")
    out = quality_score(docs, "text", out_col="quality", keep_features="q_")
    out = out.withColumn("lang_detected", detect_language("text"))
    return out.select("doc_id", "lang_detected", "q_n_tokens", "q_punct_ratio",
                      "q_stopword_ratio", "quality")


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by nation and order year
    (reference behavior class: multi-dim join tree + derived measure,
    ``pyspark/batch_tomtom.py``-style rollups generalized). The testdata
    lake has no partsupp table, so supply cost is the documented proxy
    0.6 × p_retailprice × quantity; the SHAPE (part-name filter, 4-table
    join, profit = revenue − cost, nation×year rollup) is Q9's. Dims
    broadcast; the fact scan carries the only shuffle (final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    j = (li.join(F.broadcast(part.where(F.col("p_name").like("%widget%"))),
                 li.l_partkey == part.p_partkey)
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
           .join(orders, li.l_orderkey == orders.o_orderkey))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount")) -
              F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
             .agg(stable_round(F.sum(profit), 2).alias("profit"))
             .orderBy("nation", "o_year"))


def q_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional priority counts per lineitem category
    for one ship year. The lake has no l_shipmode/commitdate columns, so
    the category is l_returnflag and the date predicate is on l_shipdate;
    the SHAPE (fact-dimension join + CASE-bucketed counts per category)
    is Q12's. One broadcast join, one aggregation shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = (li.where((F.col("l_shipdate") >= F.lit("1997-01-01")) &
                  (F.col("l_shipdate") < F.lit("1998-01-01")))
           .join(orders, li.l_orderkey == orders.o_orderkey))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # when(high,0).otherwise(1), NOT when(~high,1): a NULL priority makes
    # both `high` and `~high` NULL, so the ~ form counted NULL rows in
    # neither bucket while the oracle's CASE ... ELSE 1 counts them low.
    return (j.groupBy(F.col("l_returnflag").alias("returnflag"))
             .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                  F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
             .orderBy("returnflag"))


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — revenue under an OR of brand/size/quantity
    conjunct blocks (the classic disjunctive-predicate pushdown test;
    l_shipinstruct/shipmode absent from the lake, so the blocks use the
    available columns). Part side broadcasts; Catalyst pushes the
    disjunction's part-only conjuncts into the part scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    block = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand) &
        (F.col("p_size").between(1, smax)) &
        (F.col("l_quantity").between(qlo, qhi)))
    cond = (block("Brand#12", 5, 1, 11) | block("Brand#23", 10, 10, 20) |
            block("Brand#34", 15, 20, 30))
    return j.where(cond).agg(
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram overlap of each corpus document
    against a held-out benchmark slice (doc_id % 97 == 0 — deterministic,
    so both engines carve the identical benchmark)."""
    from bda_spadochrony_spark.operators.corpus import contamination
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corp = docs.where(F.col("doc_id") % 97 != 0)
    return contamination(corp, bench, "doc_id", "text", shingle_n=3)


def q_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct sketches: one sketch per event DATE, unioned
    to a global distinct-user count without rescanning — the
    store-sketches-per-partition rollup. At the testdata cardinality
    (≤1500 users) the lg_k=14 sketch is in its exact coupon regime, so
    the estimate equals exact COUNT(DISTINCT) and the query carries a
    value oracle; a runtime guard RAISES if the estimate ever nears the
    regime ceiling (round-4 advice: loud error beats a silent hash
    mismatch on a bigger sf — and the ceiling is coupon-collision-bound,
    so raising lg_k would not extend it; see sketches.exact_regime_max).
    Beyond the regime the operator is approximate by design (accuracy
    asserted in unit tests)."""
    from bda_spadochrony_spark.operators.sketches import (
        assert_coupon_regime, merged_distinct_estimate,
        partition_distinct_sketches)
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    sk = partition_distinct_sketches(ev, ["date"], "user_id", lg_k=14)
    out = merged_distinct_estimate(sk)
    return out.select(
        assert_coupon_regime(F.col("distinct_estimate"), lg_k=14)
        .alias("distinct_users"))


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free quality scoring: per-document mean token surprisal under
    the corpus's own unigram distribution (the cheap stand-in for the
    CCNet/Gopher perplexity filter — low = boilerplate, high = gibberish;
    filter both tails). Two bounded shuffles; the frequency join is
    token-keyed with AQE handling stopword skew."""
    from bda_spadochrony_spark.operators.corpus import unigram_surprisal
    docs = _t(spark, sf_dir, "documents")
    return unigram_surprisal(docs, "doc_id", "text")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix rebalancing: subsample so language shares hit the
    target mixture (en 50%, de/fr/es/zh 12.5% each) with exact per-group
    quotas — the binding group is kept whole, the rest downsample to
    match, rows chosen by the deterministic (hash, id) rank so the
    selected set is identical across runs, partitionings, and engines.
    Shares are binary-exact fractions, so the floor() quota boundary is
    bit-identical in the oracle."""
    from bda_spadochrony_spark.operators.sampling import mixture_sample
    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(docs, "doc_id", "lang",
                         {"en": 0.5, "de": 0.125, "fr": 0.125,
                          "es": 0.125, "zh": 0.125})
    return out.select("doc_id", "lang")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop END of the dedup pipeline: embedding near-dup pairs
    (cosine >= 0.42) -> connected components -> the deduplicated corpus
    itself (cluster canonicals + unmatched singletons), each survivor
    annotated with its cluster size. Oracle = the dedup_clusters
    recursive-CTE reachability extended with the survivor anti-join.

    Runs under 8 shuffle partitions: the pair set and every CC-round
    frame are candidate-sized (hundreds of rows), so 32-partition
    shuffles were pure empty-task overhead across the loop's jobs (r6:
    4.6 -> ~3.6 s warm at sf0.1, together with the one-job-per-round
    signature convergence check). The residual is the FLOOR for an
    iterative distributed algorithm at toy scale: 4 contraction rounds
    x one multi-stage job each + the pair generation — ~12 scheduler
    round-trips over a 441-edge graph, i.e. the bench measures stage
    scheduling latency, not data throughput; the job count is IDENTICAL
    at 100 TB (O(log n) rounds), where each stage does real work. Floor
    analysis in BENCH_SPLIT.json."""
    from bda_spadochrony_spark.operators.dedup import dedup_survivors
    from bda_spadochrony_spark.operators.similarity import pairwise_cosine_blocked
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        emb = _t(spark, sf_dir, "embeddings")
        pairs = pairwise_cosine_blocked(emb, "vec_id", min_cosine=0.42,
                                        blocks=4)
        return dedup_survivors(emb.select("vec_id"), "vec_id", pairs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass covariance matrix of the 64-dim embedding column: two
    chained posexplodes (no self-join, no collect) into one shuffle over
    d(d+1)/2 = 2080 dimension-pair keys — the PCA/whitening front half,
    map-side combined so the shuffle moves partial sums only. Oracle =
    DuckDB covar_samp over the unnested self-join."""
    from bda_spadochrony_spark.ml.stats import covariance_matrix
    emb = _t(spark, sf_dir, "embeddings")
    out = covariance_matrix(emb, "embedding", round_digits=4)
    return out.select(F.col("i").cast("int").alias("i"),
                      F.col("j").cast("int").alias("j"), "cov")


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (frequency > 3% of the corpus token
    stream) via the two-pass Misra-Gries plan: a per-partition mergeable
    sketch nominates candidates, an exact candidate-restricted count
    removes false positives — provably identical to the naive
    ``HAVING count(*) > phi*N`` (which IS the oracle) while never
    shuffling the full distinct-token table (`operators/frequency.py`
    module docstring for the guarantee; the boilerplate-token detector of
    a corpus pipeline)."""
    from bda_spadochrony_spark.operators.frequency import heavy_hitters
    from bda_spadochrony_spark.operators.text import tokens
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(tok, "token", phi=0.03)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10): each document's
    split is a pure function of its id hash — identical across runs,
    partitionings, cluster sizes, and engines (the property randomSplit
    cannot give; this is its oracled portable twin). Map-only, zero
    shuffle. The oracle restates the exact integer CASE cut points."""
    from bda_spadochrony_spark.operators.sampling import hash_split
    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id",
                     {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split")


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE-training iteration: corpus-wide adjacent token
    pair counts, top-50 with deterministic tie-break — the statistic the
    tokenizer-training loop argmaxes each merge round. Pair explode is a
    pure map (indexed transform, no self-join); the global rank input is
    pre-pruned by per-hash-group top-k exactly like build_vocab."""
    from bda_spadochrony_spark.operators.corpus import bpe_pair_counts
    docs = _t(spark, sf_dir, "documents")
    return (bpe_pair_counts(docs, "text", top_n=50)
            .select(F.col("rank").cast("int").alias("rank"), "a", "b", "n"))


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring of the embedding column against the
    corpus's own mean/stddev (the whitening precursor for clustering and
    distance pruning): fit = one posexplode into a d-row broadcastable
    stats frame; transform = broadcast join + order-stable array rebuild.
    The z array is serialized as scaled integers (floor(z*1e4 + 0.5)) —
    engine-identical strings, dodging double->string format divergence AND
    the driver's no-array-output hash limitation."""
    from bda_spadochrony_spark.ml.stats import standardize_embeddings
    emb = _t(spark, sf_dir, "embeddings")
    out = standardize_embeddings(emb, "vec_id", "embedding", round_digits=4)
    q = F.transform(F.col("zvec"),
                    lambda z: F.floor(z * 10000 + F.lit(0.5)).cast("long"))
    return out.select("vec_id", F.concat_ws(",", q.cast("array<string>"))
                      .alias("zq"))


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    pure-function shuffle key; range partition + local sort make the
    concatenated output a total shuffled order with NO single-partition
    sort (the layout property is plan-asserted in unit tests). The
    contract returns the first 100 documents of the epoch-0 order —
    TakeOrdered, scale-safe — so the oracle verifies the key function and
    tie-break exactly."""
    from bda_spadochrony_spark.operators.corpus import shuffle_corpus
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_corpus(docs, "doc_id")
    return (out.orderBy("shuffle_key", "doc_id").limit(100)
            .select("doc_id", "shuffle_key"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth admission control: the corpus is hash-split into an
    EXISTING half and an incoming NEW batch; each new document is flagged
    dup_exact (digest semi-join) and dup_near (cross-frame MinHash bands +
    exact Jaccard >= 0.5 verify) against the existing half only — cost
    proportional to the batch, never corpus x corpus. hash_fn="md5" makes
    the 16-hash band family engine-portable, so the oracle restates the
    split AND the band-candidacy restriction exactly (ADVICE r5: the old
    oracle computed exhaustive Jaccard and relied on LSH recall — a
    latent, data-dependent parity break; now parity holds by
    construction on any input)."""
    from bda_spadochrony_spark.operators.dedup import incremental_dedup
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    docs = _t(spark, sf_dir, "documents")
    is_existing = hash_bucket("doc_id") < F.lit(2147483648)
    return incremental_dedup(docs.where(~is_existing),
                             docs.where(is_existing),
                             "doc_id", "text", min_jaccard=0.5,
                             hash_fn="md5")


def q_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document vectors under the value oracle (r9): the
    hashing-trick featurizer (md5 bucket + independent md5 sign bit,
    dim=32) over the documents table — the stateless text→vector step
    that feeds the cosine/ANN/semantic-dedup family with no external
    model. Counts are integral by construction (sums of ±1), so the
    vector serializes as a comma-joined BIGINT string — no float-format
    parity risk (the q_array_agg precedent). The oracle restates the
    bucket/sign rules with the pinned sign-preserving ((x%m)+m)%m and
    densifies over a doc×dim grid; NULL/empty documents are the all-zero
    vector on both sides."""
    from bda_spadochrony_spark.operators.text import hashed_doc_vectors
    docs = _t(spark, sf_dir, "documents")
    out = hashed_doc_vectors(docs, "doc_id", "text", dim=32, hash_fn="md5")
    return out.select(
        "doc_id",
        F.concat_ws(",", F.transform(
            "vector", lambda x: x.cast("long").cast("string"))).alias("vec"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training (r9): 8 character-level merges learned
    from the documents corpus via the word-frequency-compressed loop
    (one corpus pass to the distinct-word table; every merge round is
    vocab-sized — pair explode + weighted count + one collected argmax
    row). ORACLED since r13 (upgraded from rows-only-by-design): the
    chained argmax + recursive-pointer-walk restatement built for the
    byte trainer (`bpe_train_bytes`) works for any initial split, and
    chars are just ``string_split(w, '')`` — DuckDB re-learns the
    identical 8-merge table from the same parquet. The full loop is
    also pinned against a pure-Python reference trainer
    (test_bpe_train_matches_reference)."""
    from bda_spadochrony_spark.operators.corpus import bpe_train
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=8)


# the tokenizer ARTIFACT for q_bpe_encode: the first six merges
# bpe_train learns on the documents corpus at sf0.01, frozen as a
# literal (an encoder ships with a fixed merge table; training is
# q_bpe_train's job). Includes a chained merge — ('m','er') consumes
# ('e','r')'s output — so the query exercises merge-on-merged-symbol.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er")]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING (r10, VERDICT r9 #7 — the application half of the
    tokenizer): apply the frozen 6-merge table to every document.
    Word-frequency-compressed like the trainer: the 6-deep greedy
    left-to-right fold runs once per DISTINCT word, documents reassemble
    via the order-stable (pos, syms) sort-flatten. The oracle restates
    the fold EXACTLY as a chained recursive-CTE pointer walk per word
    (i advances 2 on a merge, 1 otherwise — greedy LTR non-overlapping
    by construction; DuckDB 1.0's list_reduce mis-accumulates list
    fields inside struct accumulators, so the walk is the portable
    restatement)."""
    from bda_spadochrony_spark.operators.corpus import bpe_encode
    docs = _t(spark, sf_dir, "documents")
    out = bpe_encode(docs, "doc_id", "text", _BPE_MERGES)
    return out.select(
        "doc_id",
        F.concat_ws(" ", "symbols").alias("encoded"),
        F.size("symbols").alias("n_symbols"))


def q_tokenizer_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer loop closed END TO END (r11, VERDICT r10 #5): the
    trained merge table (``_BPE_MERGES`` — the artifact ``bpe_train``
    learns on this corpus, frozen as the encoder convention) applied via
    ``bpe_encode``, the encoded symbol stream re-vocabbed
    (``build_vocab`` top-100), every document re-emitted as its
    symbol-id sequence (``tokens_to_ids``, OOV→0) and laid out by
    concat-and-cut packing (``pack_documents``, 512-token windows, 8
    shards) — train→encode→ids→packed sequences, the actual artifact a
    training-data pipeline ships, as ONE lazy plan (the
    ``corpus_pipeline`` CTE-chaining precedent). The encoded frame is
    lineage-truncated once and feeds all three downstream stages."""
    from bda_spadochrony_spark.operators.corpus import (bpe_encode,
                                                        build_vocab,
                                                        pack_documents,
                                                        tokens_to_ids)
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    enc = (bpe_encode(docs, "doc_id", "text", _BPE_MERGES)
           .select("doc_id", F.concat_ws(" ", "symbols").alias("enc"))
           .localCheckpoint(eager=False))
    vocab = build_vocab(enc, "enc", size=100)
    ids = tokens_to_ids(enc, "doc_id", "enc", vocab)
    pack = pack_documents(enc, "doc_id", "enc", budget=512, num_shards=8)
    return (pack.join(ids, "doc_id")
            .select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset",
                    F.concat_ws(",", F.col("token_ids").cast("array<string>"))
                    .alias("token_ids")))


def _bpe_fold_ctes(src: str = "documents",
                   reserved: list[str] | None = None) -> str:
    """The shared recursive-CTE restatement of the greedy BPE fold for
    the literal ``_BPE_MERGES`` table: distinct-word pointer walk +
    per-doc order-stable reassembly. Returns the CTE body (ending in
    ``rebuilt(doc_id, symbols)``) for a ``WITH RECURSIVE`` prelude —
    shared by the ``bpe_encode`` oracle and the ``tokenizer_pipeline``
    oracle that chains vocab/ids/packing on top (r11, VERDICT r10 #5).

    ``src`` names the (doc_id, text) relation to encode — a prepended
    CTE lets the byte-fallback oracle feed the adversarial fixture
    through the same fold; ``reserved`` restates the special-token
    bypass (a reserved word's c0 split is the one-element list, so no
    merge stage can touch it — bytes/specials are just a different c0
    split, r12)."""
    toks = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"
    stages, prev = [], "c0"
    for k, (a, b) in enumerate(_BPE_MERGES, 1):
        m = a + b
        stages.append(f"""f{k} AS (
            SELECT w, chars, 1 AS i, []::VARCHAR[] AS out FROM {prev}
            UNION ALL
            SELECT w, chars,
                   CASE WHEN chars[i] = '{a}' AND chars[i+1] = '{b}'
                        THEN i + 2 ELSE i + 1 END,
                   CASE WHEN chars[i] = '{a}' AND chars[i+1] = '{b}'
                        THEN list_append(out, '{m}')
                        ELSE list_append(out, chars[i]) END
            FROM f{k} WHERE i <= len(chars)
        ), s{k} AS (
            SELECT w, out AS chars FROM f{k} WHERE i = len(chars) + 1
        )""")
        prev = f"s{k}"
    chain = ", ".join(stages)
    if reserved:
        res_list = ", ".join("'" + t.replace("'", "''") + "'"
                             for t in reserved)
        c0_split = (f"CASE WHEN w IN ({res_list}) THEN [w] "
                    "ELSE string_split(w, '') END")
    else:
        c0_split = "string_split(w, '')"
    return f"""words AS (
            SELECT DISTINCT unnest({toks}) AS w
            FROM {src} WHERE text IS NOT NULL
        ), c0 AS (
            SELECT w, {c0_split} AS chars
            FROM words WHERE w <> ''
        ), {chain}, tok AS (
            SELECT doc_id, ord, w FROM (
                SELECT doc_id, unnest({toks}) AS w,
                       generate_subscripts({toks}, 1) AS ord
                FROM {src} WHERE text IS NOT NULL)
            WHERE w <> ''
        ), rebuilt AS (
            SELECT t.doc_id,
                   flatten(list(e.chars ORDER BY t.ord)) AS symbols
            FROM tok t JOIN {prev} e ON e.w = t.w
            GROUP BY 1
        )"""


# special tokens + the deterministic Unicode palette for the r12
# byte-fallback fixture: 512 CJK characters generated from codepoints
# (shared between the Spark query and the oracle generator so both
# engines derive the identical adversarial text). 512 matters: each
# palette char then appears ~once per contract corpus, so it LOSES the
# top-100 vocab race (count-1 ties break token-asc, latin first) and
# the byte rung actually fires — a 64-char palette measured counts ~8
# per char, most of which made the vocab and dodged the fallback.
_TOK_RESERVED = ["<|doc|>"]
_UNI_PALETTE = [chr(0x4E00 + 13 * i) for i in range(512)]


def q_tokenizer_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-FALLBACK + SPECIAL-TOKEN tokenizer loop (r12, VERDICT r11
    #4 — the production property the r11 pipeline lacked: no document
    is ever OOV). The ADVERSARIAL fixture appends to every document a
    reserved ``<|doc|>`` marker plus a globally-unique Unicode word
    (umlaut + a doc_id-selected CJK palette char + an emoji + the id),
    so the corpus contains text no 100-slot vocabulary can cover. The
    pipeline: ``bpe_encode(reserved=)`` keeps the marker one unsplit
    symbol (no merge can touch it), ``build_vocab`` takes the top-100
    encoded symbols, and ``tokens_to_ids_bytes`` maps reserved → pinned
    id 1, vocab → shifted ids, and EVERYTHING ELSE to its UTF-8 bytes
    (ids 102..357) — ``n_unk`` is structurally 0 and the driver hash
    pins it, while ``n_byte_ids`` proves the fallback rung actually
    fires. Fully oracled: the recursive-CTE BPE fold takes the
    reserved bypass as a different c0 split, and the byte
    decomposition is hex arithmetic both engines state identically."""
    from bda_spadochrony_spark.operators.corpus import (bpe_encode,
                                                        build_vocab,
                                                        tokens_to_ids_bytes)
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    palette = F.array(*[F.lit(c) for c in _UNI_PALETTE])
    junk = F.concat(
        F.lit("ü"),
        F.element_at(palette, (F.col("doc_id") % 512).cast("int") + 1),
        F.lit("🚀"), F.col("doc_id").cast("string"))
    adoc = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit("<|doc|>"), F.col("text"), junk)
        .alias("text"))
    enc = (bpe_encode(adoc, "doc_id", "text", _BPE_MERGES,
                      reserved=_TOK_RESERVED)
           .select("doc_id", F.concat_ws(" ", "symbols").alias("enc"))
           .localCheckpoint(eager=False))
    vocab = build_vocab(enc, "enc", size=100)
    ids = tokens_to_ids_bytes(enc, "doc_id", "enc", vocab,
                              _TOK_RESERVED, vocab_size=100)
    return ids.select(
        "doc_id",
        F.concat_ws(",", F.col("token_ids").cast("array<string>"))
        .alias("token_ids"),
        "n_ids", "n_byte_ids", "n_unk")


def _tokenizer_bytes_oracle() -> str:
    """The byte-fallback loop restated: the adversarial fixture CTE
    feeds the shared BPE fold (reserved bypass = a different c0
    split), the vocab stage mirrors build_vocab (unfiltered token
    stream — '' may hold a slot if empty docs exist, exactly as the
    Spark side counts it), and the three id rungs restate
    tokens_to_ids_bytes with the hex byte arithmetic."""
    pal = "[" + ", ".join("'" + c + "'" for c in _UNI_PALETTE) + "]"
    etoks = "string_split_regex(lower(trim(enc)), '[\\s\\x0b]+')"
    byte_expr = (
        "[CAST((strpos('0123456789ABCDEF', substr(h, 2*i+1, 1))-1)*16"
        " + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1))-1)"
        " + 102 AS INT) for i in range(CAST(len(h)//2 AS INT))]")
    return f"""
        WITH RECURSIVE adoc AS (
            SELECT doc_id,
                   concat_ws(' ', '<|doc|>', text,
                             'ü' || {pal}[CAST(doc_id % 512 AS INT) + 1]
                             || '🚀' || CAST(doc_id AS VARCHAR)) AS text
            FROM documents
        ), {_bpe_fold_ctes(src="adoc", reserved=_TOK_RESERVED)}, enc AS (
            SELECT d.doc_id,
                   coalesce(array_to_string(r.symbols, ' '), '') AS enc
            FROM adoc d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        ), etok AS (
            SELECT doc_id, unnest({etoks}) AS token,
                   generate_subscripts({etoks}, 1) AS pos
            FROM enc
        ), vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY count(*) DESC, token ASC)
                       AS token_id
            FROM etok GROUP BY token
            QUALIFY token_id <= 100
        ), per_tok AS (
            SELECT e.doc_id, e.pos,
                   CASE WHEN e.token = '<|doc|>' THEN [CAST(1 AS INT)]
                        WHEN v.token_id IS NOT NULL
                             THEN [CAST(v.token_id + 1 AS INT)]
                        ELSE {byte_expr}
                   END AS tids
            -- byte rung encodes ' ' || token (the GPT-2 leading-space
            -- convention — the separator byte is what makes decode
            -- lossless; see ids_to_tokens_bytes)
            FROM (SELECT *, hex(encode(' ' || token)) AS h
                  FROM etok WHERE token <> '') e
            LEFT JOIN vocab v USING (token)
        ), flat AS (
            SELECT doc_id, pos, generate_subscripts(tids, 1) AS bpos,
                   unnest(tids) AS tid
            FROM per_tok
        ), agg AS (
            SELECT doc_id,
                   array_to_string(list(tid ORDER BY pos, bpos), ',')
                       AS token_ids,
                   CAST(count(*) AS INTEGER) AS n_ids,
                   CAST(sum(CASE WHEN tid > 101 THEN 1 ELSE 0 END)
                        AS INTEGER) AS n_byte_ids,
                   CAST(sum(CASE WHEN tid <= 0 THEN 1 ELSE 0 END)
                        AS INTEGER) AS n_unk
            FROM flat GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.token_ids, '') AS token_ids,
               coalesce(a.n_ids, 0) AS n_ids,
               coalesce(a.n_byte_ids, 0) AS n_byte_ids,
               coalesce(a.n_unk, 0) AS n_unk
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def q_bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL BPE TRAINING (r13, VERDICT r12 #3 — the tokenizer
    triad's missing third: r12 landed byte-fallback encode and lossless
    decode, this learns the merges over the byte alphabet itself).
    Eight merges trained over the UTF-8 bytes of ``' ' + word`` (2-char
    hex symbols — the GPT-2 leading-space convention the id rungs
    already use, so merges may span the space byte exactly like GPT-2's
    Ġ-tokens) on the ADVERSARIAL Unicode fixture (reserved ``<|doc|>``
    marker + globally-unique umlaut/CJK/emoji junk per document).
    Reserved tokens are EXCLUDED from the training table — their ids
    are pinned outside the learned vocab (`tokens_to_ids_bytes`), so
    merges inside them would waste slots on sequences the encoder never
    splits. FULLY ORACLED where the char trainer is rows-only by
    design: hex byte arithmetic is engine-portable, so DuckDB
    RE-LEARNS the identical merge table — eight chained rounds of
    weighted adjacent-pair counts → argmax (count desc, a asc, b asc)
    → greedy LTR recursive pointer walk (the bpe_encode oracle's
    proven fold restatement, with the merge row JOINED per round
    instead of inlined as a literal)."""
    from bda_spadochrony_spark.operators.corpus import bpe_train
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    palette = F.array(*[F.lit(c) for c in _UNI_PALETTE])
    junk = F.concat(
        F.lit("ü"),
        F.element_at(palette, (F.col("doc_id") % 512).cast("int") + 1),
        F.lit("🚀"), F.col("doc_id").cast("string"))
    adoc = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit("<|doc|>"), F.col("text"), junk)
        .alias("text"))
    return bpe_train(adoc, "text", n_merges=8, alphabet="bytes",
                     reserved=_TOK_RESERVED)


def _bpe_train_rounds(prev: str, n_merges: int,
                      carry_w: bool = False) -> tuple[str, str]:
    """The shared chained-round SQL of the BPE-trainer oracles:
    ``n_merges`` rounds of (weighted adjacent-pair counts → argmax with
    the count-desc/pair-asc tie-break → greedy LTR recursive pointer
    walk applying that round's merge) over a symbol table named
    ``prev`` with columns ``(syms, cnt[, w])``. An empty argmax (no
    pair repeats) empties the walk's anchor and the pass-through branch
    carries the symbol table forward unchanged — the trainer's
    early-stop rule, so the merge table may be shorter than
    ``n_merges`` in both engines. ``carry_w`` threads the word through
    every round so an encode tail can join the FINAL symbol table back
    to the corpus — a word's trained symbols ARE its encoding
    (`tokenizer_bytes_trained`). Returns (sql, final_table_name).

    Every per-round CTE is ``AS MATERIALIZED``: each round references
    the previous symbol table three times (pair counts, walk anchor,
    pass-through), and DuckDB inlines plain CTEs — the un-hinted form
    re-evaluates the whole chain ~3^rounds times (measured: >580 s vs
    0.19 s materialized on the same 1k-word table)."""
    wsel = "s.w, " if carry_w else ""
    wcol = "w, " if carry_w else ""
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f"""p{r} AS MATERIALIZED (
            SELECT syms[i] AS a, syms[i + 1] AS b,
                   CAST(sum(cnt) AS BIGINT) AS n
            FROM (SELECT syms, cnt,
                         unnest(generate_series(1, len(syms) - 1)) AS i
                  FROM {prev})
            GROUP BY 1, 2
        ), b{r} AS MATERIALIZED (
            SELECT a, b, n FROM p{r} WHERE n >= 2
            ORDER BY n DESC, a ASC, b ASC LIMIT 1
        ), f{r} AS (
            SELECT {wsel}s.syms, s.cnt, 1 AS i, []::VARCHAR[] AS out,
                   m.a AS ma, m.b AS mb
            FROM {prev} s CROSS JOIN b{r} m
            UNION ALL
            SELECT {wcol}syms, cnt,
                   CASE WHEN syms[i] = ma AND syms[i + 1] = mb
                        THEN i + 2 ELSE i + 1 END,
                   CASE WHEN syms[i] = ma AND syms[i + 1] = mb
                        THEN list_append(out, ma || mb)
                        ELSE list_append(out, syms[i]) END,
                   ma, mb
            FROM f{r} WHERE i <= len(syms)
        ), s{r} AS MATERIALIZED (
            SELECT {wcol}out AS syms, cnt FROM f{r} WHERE i = len(syms) + 1
            UNION ALL
            SELECT {wcol}syms, cnt FROM {prev}
            WHERE NOT EXISTS (SELECT 1 FROM b{r})
        )""")
        prev = f"s{r}"
    return ", ".join(rounds), prev


def _merge_table_sql(n_merges: int) -> str:
    """UNION of the per-round argmax rows in round order — the merge
    table both trainer oracles SELECT."""
    return "\n            UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS rank, a, b, n FROM b{r}"
        for r in range(1, n_merges + 1))


def _adoc_cte() -> str:
    """The adversarial Unicode fixture CTE shared by every byte-rung
    oracle (reserved marker + umlaut/CJK/emoji junk per document)."""
    pal = "[" + ", ".join("'" + c + "'" for c in _UNI_PALETTE) + "]"
    return f"""adoc AS (
            SELECT doc_id,
                   concat_ws(' ', '<|doc|>', text,
                             'ü' || {pal}[CAST(doc_id % 512 AS INT) + 1]
                             || '🚀' || CAST(doc_id AS VARCHAR)) AS text
            FROM documents
        )"""


def _bpe_train_bytes_oracle(n_merges: int = 8) -> str:
    """The byte trainer RE-LEARNED in SQL: the adversarial fixture CTE
    feeds a distinct-word count table (reserved tokens excluded) split
    to 2-char hex byte symbols (the tokenizer_bytes oracle's proven
    arithmetic), then the shared chained rounds; the result is the
    merge table in round order."""
    toks = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"
    res_list = ", ".join("'" + t.replace("'", "''") + "'"
                         for t in _TOK_RESERVED)
    rounds, _final = _bpe_train_rounds("s0", n_merges)
    return f"""
        WITH RECURSIVE {_adoc_cte()}, words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest({toks}) AS w
                  FROM adoc WHERE text IS NOT NULL)
            WHERE w NOT IN ({res_list})
            GROUP BY w
        ), s0 AS MATERIALIZED (
            SELECT [substr(h, 2*i + 1, 2)
                    for i in range(CAST(len(h) // 2 AS INT))] AS syms,
                   cnt
            FROM (SELECT hex(encode(' ' || w)) AS h, cnt FROM words)
        ), {rounds}
        SELECT rank, a, b, n
        FROM ({_merge_table_sql(n_merges)})
        ORDER BY rank
    """


def _bpe_train_chars_oracle(n_merges: int = 8) -> str:
    """The CHAR trainer re-learned in SQL (r13 — upgrading `bpe_train`
    from rows-only-by-design to ORACLED: the chained-round restatement
    built for the byte trainer works for any c0 split, and chars are
    just `string_split(w, '')`). One pinned divergence is immaterial by
    construction: DuckDB splits the empty word to [] while Spark splits
    it to [''] — a 0/1-element array has no adjacent pair either way,
    so the learned merge table is identical."""
    toks = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"
    rounds, _final = _bpe_train_rounds("s0", n_merges)
    return f"""
        WITH RECURSIVE words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest({toks}) AS w
                  FROM documents WHERE text IS NOT NULL)
            GROUP BY w
        ), s0 AS MATERIALIZED (
            SELECT string_split(w, '') AS syms, cnt FROM words
        ), {rounds}
        SELECT rank, a, b, n
        FROM ({_merge_table_sql(n_merges)})
        ORDER BY rank
    """


def _tokenizer_bytes_trained_oracle(n_merges: int = 6) -> str:
    """Train→encode under ONE oracle (r13 — the tokenizer loop's
    closing claim): the byte trainer's chained rounds CARRY THE WORD,
    so the final symbol table IS the trained encoding of every distinct
    word; the encode tail joins it back to the corpus in token order
    (reserved words bypass as one opaque symbol, exactly the Spark
    side's `bpe_encode(reserved=)` contract). DuckDB re-learns the
    merges AND re-encodes the corpus from the same parquet — nothing
    about the tokenizer is taken on faith."""
    toks = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"
    res_list = ", ".join("'" + t.replace("'", "''") + "'"
                         for t in _TOK_RESERVED)
    rounds, final = _bpe_train_rounds("s0", n_merges, carry_w=True)
    return f"""
        WITH RECURSIVE {_adoc_cte()}, words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest({toks}) AS w
                  FROM adoc WHERE text IS NOT NULL)
            WHERE w NOT IN ({res_list})
            GROUP BY w
        ), s0 AS MATERIALIZED (
            SELECT w, [substr(h, 2*i + 1, 2)
                       for i in range(CAST(len(h) // 2 AS INT))] AS syms,
                   cnt
            FROM (SELECT w, hex(encode(' ' || w)) AS h, cnt FROM words)
        ), {rounds}, tok AS (
            SELECT doc_id, ord, w FROM (
                SELECT doc_id, unnest({toks}) AS w,
                       generate_subscripts({toks}, 1) AS ord
                FROM adoc WHERE text IS NOT NULL)
            WHERE w <> ''
        ), enc AS (
            SELECT t.doc_id,
                   flatten(list(CASE WHEN t.w IN ({res_list}) THEN [t.w]
                                     ELSE e.syms END
                                ORDER BY t.ord)) AS symbols
            FROM tok t LEFT JOIN {final} e ON e.w = t.w
            GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(array_to_string(e.symbols, ' '), '') AS encoded,
               CAST(coalesce(len(e.symbols), 0) AS INT) AS n_symbols
        FROM adoc d LEFT JOIN enc e USING (doc_id)
    """


def q_tokenizer_bytes_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN→ENCODE under ONE oracle (r13 — the tokenizer loop's
    closing claim): six byte-alphabet merges are LEARNED from the
    adversarial Unicode fixture (`bpe_train(alphabet="bytes")`,
    reserved excluded) and immediately applied to the same corpus
    (`bpe_encode(alphabet="bytes", reserved=)`) — the full GPT-2 shape
    where the merge table is DATA-DEPENDENT, not a frozen literal like
    `bpe_encode`/`tokenizer_bytes`. The merge-table collect between
    the stages is tokenizer-artifact-sized (≤ n_merges rows — the
    documented fit exception; a production run persists it like the
    IVF centers). The oracle re-learns the merges AND re-encodes the
    corpus in SQL: the trainer's chained rounds carry the word, so the
    final round's symbol table IS the trained encoding of every
    distinct word, joined back in token order with the reserved bypass
    — decode stays lossless by construction (a word's symbols
    concatenate to its exact hex; `detokenize_bytes` pins the decode
    half on the same fixture)."""
    from bda_spadochrony_spark.operators.corpus import bpe_encode, bpe_train
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    palette = F.array(*[F.lit(c) for c in _UNI_PALETTE])
    junk = F.concat(
        F.lit("ü"),
        F.element_at(palette, (F.col("doc_id") % 512).cast("int") + 1),
        F.lit("🚀"), F.col("doc_id").cast("string"))
    adoc = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit("<|doc|>"), F.col("text"), junk)
        .alias("text")).localCheckpoint(eager=False)
    trained = bpe_train(adoc, "text", n_merges=6, alphabet="bytes",
                        reserved=_TOK_RESERVED)
    merges = [(r["a"], r["b"]) for r in trained.orderBy("rank").collect()]
    enc = bpe_encode(adoc, "doc_id", "text", merges,
                     reserved=_TOK_RESERVED, alphabet="bytes")
    return enc.select(
        "doc_id",
        F.concat_ws(" ", "symbols").alias("encoded"),
        F.size("symbols").alias("n_symbols"))


def q_bpe_artifact_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN→SAVE→LOAD→ENCODE through the persistable tokenizer
    artifact (r14, VERDICT r13 #4 — the trained tokenizer as a shipped
    artifact, mirroring S14 model persistence): the same six
    byte-alphabet merges as `tokenizer_bytes_trained` are learned from
    the adversarial Unicode fixture, PERSISTED with `bpe_save` (ordered
    merge parquet + atomically-committed meta.json holding the alphabet
    flag and reserved tokens), re-loaded with `bpe_load`, and the
    LOADED artifact's rebuilt encode plan runs over the corpus. The
    artifact round-trip is semantics-preserving by contract, so the
    oracle IS `tokenizer_bytes_trained`'s SQL (the
    `stream_ann_index`/`traffic_hourly_fused` shared-oracle precedent)
    — DuckDB re-learns the merges and re-encodes; any loss or
    reordering in save/load hash-mismatches. This is the production
    loop: the trainer runs rarely, the artifact is what encode jobs
    (batch or foreachBatch drains —
    tests/test_streaming.py::test_stream_encode_with_loaded_tokenizer_artifact)
    actually hold."""
    import shutil
    import tempfile

    from bda_spadochrony_spark.operators.corpus import (bpe_load, bpe_save,
                                                        bpe_train)
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    palette = F.array(*[F.lit(c) for c in _UNI_PALETTE])
    junk = F.concat(
        F.lit("ü"),
        F.element_at(palette, (F.col("doc_id") % 512).cast("int") + 1),
        F.lit("🚀"), F.col("doc_id").cast("string"))
    adoc = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit("<|doc|>"), F.col("text"), junk)
        .alias("text")).localCheckpoint(eager=False)
    trained = bpe_train(adoc, "text", n_merges=6, alphabet="bytes",
                        reserved=_TOK_RESERVED)
    base = tempfile.mkdtemp(prefix="bda_bpe_art_q_")
    try:
        bpe_save(trained, f"{base}/tok", alphabet="bytes",
                 reserved=_TOK_RESERVED)
        tok = bpe_load(spark, f"{base}/tok")
        enc = tok.encode(adoc, "doc_id", "text")
        # bpe_load already collected the merge list, so the returned
        # plan holds literals + adoc only — nothing re-reads the
        # artifact dir after it is removed
        return enc.select(
            "doc_id",
            F.concat_ws(" ", "symbols").alias("encoded"),
            F.size("symbols").alias("n_symbols"))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_detokenize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS encode→decode round trip (r12 — the closing claim of
    the byte-fallback surface): the adversarial Unicode fixture is
    encoded with `tokens_to_ids_bytes` (reserved + top-100 vocab +
    UTF-8 byte fallback with the leading-space byte) and decoded with
    `ids_to_tokens_bytes`; `roundtrip_ok` pins that the decode equals
    the normalized text EXACTLY for every document — no `<unk>`
    sentinel, no loss, which is the property the r11 `detokenize` loop
    could only measure the loss of (`n_unk`). Raw whitespace tokens
    (the `detokenize` precedent), no BPE stage — the byte alphabet is
    the contract under test. Fully oracled: the gaps-and-islands
    segment window, the per-run `unhex` UTF-8 decode, and the id rungs
    restate as plain SQL."""
    from bda_spadochrony_spark.operators.corpus import (build_vocab,
                                                        ids_to_tokens_bytes,
                                                        tokens_to_ids_bytes)
    from bda_spadochrony_spark.operators.text import tokens
    configure(spark)
    docs = _t(spark, sf_dir, "documents")
    palette = F.array(*[F.lit(c) for c in _UNI_PALETTE])
    junk = F.concat(
        F.lit("ü"),
        F.element_at(palette, (F.col("doc_id") % 512).cast("int") + 1),
        F.lit("🚀"), F.col("doc_id").cast("string"))
    adoc = docs.select(
        "doc_id",
        F.concat_ws(" ", F.lit("<|doc|>"), F.col("text"), junk)
        .alias("text")).localCheckpoint(eager=False)
    vocab = build_vocab(adoc, "text", size=100)
    ids = tokens_to_ids_bytes(adoc, "doc_id", "text", vocab,
                              _TOK_RESERVED, vocab_size=100)
    dec = ids_to_tokens_bytes(ids, "doc_id", "token_ids", vocab,
                              _TOK_RESERVED, vocab_size=100)
    norm = adoc.select("doc_id",
                       F.concat_ws(" ", tokens("text")).alias("norm"))
    return (dec.join(norm, "doc_id")
            .select("doc_id", "detok",
                    (F.col("detok") == F.col("norm"))
                    .alias("roundtrip_ok")))


def _detokenize_bytes_oracle() -> str:
    """The lossless round trip restated: fixture → top-100 vocab over
    the raw token stream → three-rung encode (space-prefixed byte
    fallback) → flat id sequence → gaps-and-islands segments → per-run
    from_hex UTF-8 decode → space-joined reassembly, compared against
    the normalized text."""
    pal = "[" + ", ".join("'" + c + "'" for c in _UNI_PALETTE) + "]"
    toks = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"
    byte_expr = (
        "[CAST((strpos('0123456789ABCDEF', substr(h, 2*i+1, 1))-1)*16"
        " + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1))-1)"
        " + 102 AS INT) for i in range(CAST(len(h)//2 AS INT))]")
    return f"""
        WITH adoc AS (
            SELECT doc_id,
                   concat_ws(' ', '<|doc|>', text,
                             'ü' || {pal}[CAST(doc_id % 512 AS INT) + 1]
                             || '🚀' || CAST(doc_id AS VARCHAR)) AS text
            FROM documents
        ), toks AS (
            SELECT doc_id, unnest({toks}) AS token,
                   generate_subscripts({toks}, 1) AS pos
            FROM adoc
        ), vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY count(*) DESC, token ASC)
                       AS token_id
            FROM toks GROUP BY token
            QUALIFY token_id <= 100
        ), enc AS (
            SELECT t.doc_id, t.pos,
                   CASE WHEN t.token = '<|doc|>' THEN [CAST(1 AS INT)]
                        WHEN v.token_id IS NOT NULL
                             THEN [CAST(v.token_id + 1 AS INT)]
                        ELSE {byte_expr}
                   END AS tids
            FROM (SELECT *, hex(encode(' ' || token)) AS h
                  FROM toks WHERE token <> '') t
            LEFT JOIN vocab v USING (token)
        ), flat AS (
            SELECT doc_id, pos, generate_subscripts(tids, 1) AS bpos,
                   unnest(tids) AS tid
            FROM enc
        ), ids AS (
            SELECT doc_id, tid,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos, bpos) AS gpos
            FROM flat
        ), segs AS (
            SELECT doc_id, tid, gpos,
                   sum(CASE WHEN tid <= 101 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY gpos) AS seg
            FROM ids
        ), segagg AS (
            SELECT s.doc_id, s.seg, min(s.gpos) AS spos,
                   min(CASE WHEN s.tid = 1 THEN '<|doc|>'
                            ELSE v2.token END) AS tok,
                   string_agg(CASE WHEN s.tid > 101
                                   THEN printf('%02x', s.tid - 102) END,
                              '' ORDER BY s.gpos) AS hexrun
            FROM segs s
            LEFT JOIN vocab v2
              ON s.tid BETWEEN 2 AND 101 AND v2.token_id = s.tid - 1
            GROUP BY 1, 2
        ), segstr AS (
            SELECT doc_id, spos,
                   (CASE WHEN tok IS NOT NULL THEN ' ' || tok
                         ELSE '' END)
                   || (CASE WHEN hexrun IS NOT NULL AND hexrun <> ''
                            THEN decode(from_hex(hexrun))
                            ELSE '' END) AS s
            FROM segagg
        ), detok AS (
            SELECT doc_id,
                   ltrim(string_agg(s, '' ORDER BY spos), ' ') AS detok
            FROM segstr GROUP BY 1
        )
        SELECT a.doc_id, coalesce(d.detok, '') AS detok,
               coalesce(d.detok, '')
                   = array_to_string({toks}, ' ') AS roundtrip_ok
        FROM adoc a LEFT JOIN detok d USING (doc_id)
    """


def _bpe_encode_oracle() -> str:
    """The chained recursive-CTE restatement of the greedy BPE fold for
    the literal ``_BPE_MERGES`` table."""
    return f"""
        WITH RECURSIVE {_bpe_fold_ctes()}
        SELECT d.doc_id,
               coalesce(array_to_string(r.symbols, ' '), '') AS encoded,
               CAST(coalesce(len(r.symbols), 0) AS INTEGER) AS n_symbols
        FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """


def _tokenizer_pipeline_oracle() -> str:
    """The full tokenizer pipeline restated over the BPE fold prefix:
    encoded text -> top-100 symbol vocab (count desc, token asc) ->
    per-doc id sequences (OOV -> 0, order-stable) -> concat-and-cut
    packing (512 budget, 8 shards, doc-id order) — each stage the same
    SQL as its standalone oracle (tokens_to_ids / pack_documents),
    applied to the ENCODED stream instead of raw text."""
    etoks = "string_split_regex(lower(trim(enc)), '[\\s\\x0b]+')"
    return f"""
        WITH RECURSIVE {_bpe_fold_ctes()}, enc AS (
            SELECT d.doc_id,
                   coalesce(array_to_string(r.symbols, ' '), '') AS enc
            FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        ), etoks AS (
            SELECT doc_id, unnest({etoks}) AS token,
                   generate_subscripts({etoks}, 1) AS pos
            FROM enc
        ), vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY count(*) DESC, token ASC)
                       AS token_id
            FROM etoks GROUP BY token
            QUALIFY token_id <= 100
        ), ids AS (
            SELECT t.doc_id,
                   array_to_string(
                       list(COALESCE(v.token_id, 0) ORDER BY t.pos),
                       ',') AS token_ids
            FROM etoks t LEFT JOIN vocab v USING (token)
            GROUP BY t.doc_id
        ), base AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   len({etoks}) AS n_tokens
            FROM enc
        ), laid AS (
            SELECT doc_id, shard, n_tokens,
                   COALESCE(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS start
            FROM base
        )
        SELECT l.doc_id, l.shard, l.n_tokens,
               CAST(l.start // 512 AS BIGINT) AS pack_id,
               CAST(l.start % 512 AS BIGINT) AS pack_offset,
               i.token_ids
        FROM laid l JOIN ids i ON i.doc_id = l.doc_id
    """


def q_text_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NO-EXTERNAL-MODEL semantic-dedup loop end to end (r10,
    VERDICT r9 #4): ``hashed_doc_vectors`` (the stateless hashing-trick
    featurizer, md5-portable, dim=64) feeds ``semantic_dedup`` over the
    DOCUMENTS table — text → vector → cluster → within-cell cosine ≥ 0.9
    → connected families → min-id survivors, all from raw text with no
    embedding model. Both stages' proven oracles chain as CTEs (the
    ``corpus_pipeline`` precedent): the hashed-vector grid densification
    becomes the vector CTE the SemDeDup restatement consumes, with the
    cell count derived from the documents footer (``cells_for``).
    Zero-token documents carry the all-zero vector and are dropped by
    ``valid_vectors`` — they are not survivors, by design."""
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    from bda_spadochrony_spark.operators.text import hashed_doc_vectors
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs = _t(spark, sf_dir, "documents")
        vecs = hashed_doc_vectors(docs, "doc_id", "text", dim=64,
                                  hash_fn="md5")
        # the vector frame feeds the center-fit collect, the assignment,
        # and (through its lineage) every CC round — checkpoint or each
        # consumer replays the featurizer (AQE never cross-stage-reuses)
        vecs = vecs.localCheckpoint(eager=False)
        out = semantic_dedup(vecs, "doc_id", vec_col="vector",
                             min_cosine=0.9)
        return out.select("doc_id", F.col("cell").cast("long").alias("cell"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _text_semantic_dedup_oracle(cells: int) -> str:
    """hashed_vectors' densified-grid CTE chained into the SemDeDup
    restatement (dim=64, min_cosine=0.9, __CELLS__ resolved from the
    documents footer)."""
    return f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)),
                                             '[\\s\\x0b]+')) AS tok
            FROM documents
        ), tb AS (
            SELECT doc_id,
                   CAST((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 64)
                          + 64) % 64) AS INTEGER) AS bucket,
                   CASE WHEN ((('0x' || substr(md5(tok), 9, 8))::BIGINT % 2)
                              + 2) % 2 = 0
                        THEN 1 ELSE -1 END AS sign
            FROM toks WHERE tok IS NOT NULL AND tok <> ''
        ), per AS (
            SELECT doc_id, bucket, sum(sign) AS c FROM tb GROUP BY 1, 2
        ), grid AS (
            SELECT d.doc_id, CAST(r.range AS INTEGER) AS i
            FROM (SELECT DISTINCT doc_id FROM documents) d
            CROSS JOIN range(64) r
        ), hv AS MATERIALIZED (
            SELECT g.doc_id AS vid,
                   list(coalesce(p.c, 0)::DOUBLE ORDER BY g.i) AS v
            FROM grid g
            LEFT JOIN per p ON p.doc_id = g.doc_id AND p.bucket = g.i
            GROUP BY 1
        ), n AS MATERIALIZED (
            -- valid_vectors: counts are small integers, but the guard
            -- mirrors the engine's norm window exactly
            SELECT vid, v FROM hv
            WHERE len(list_filter(v, x -> x <> 0)) > 0
              AND list_sum(list_transform(v, x -> x * x)) > 0
              AND isfinite(list_sum(list_transform(v, x -> x * x)))
        ), cent AS (
            SELECT row_number() OVER (ORDER BY vid) - 1 AS cell, v AS c
            FROM n ORDER BY vid LIMIT {cells}
        ), dists AS (
            SELECT n.vid, n.v, cent.cell,
                   list_dot_product(
                       [n.v[i+1] - cent.c[i+1] for i in range(64)],
                       [n.v[i+1] - cent.c[i+1] for i in range(64)]) AS d2
            FROM n, cent
        ), assigned AS (
            SELECT vid, v, cell, sqrt(list_dot_product(v, v)) AS nrm
            FROM (SELECT vid, v, cell,
                         row_number() OVER (PARTITION BY vid
                                            ORDER BY d2 ASC, cell ASC)
                         AS rn
                  FROM dists) WHERE rn = 1
        ), pairs AS (
            SELECT a.vid AS id_a, b.vid AS id_b
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vid < b.vid
            WHERE a.nrm > 0 AND b.nrm > 0
              AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        ), sym AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM sym)
            UNION
            SELECT s.s, reach.r FROM sym s JOIN reach ON reach.id = s.d
        ), labels AS (
            SELECT id, min(r) AS canonical_id FROM reach GROUP BY id
        )
        SELECT a.vid AS doc_id, CAST(a.cell AS BIGINT) AS cell
        FROM assigned a
        WHERE a.vid NOT IN
              (SELECT id FROM labels WHERE id != canonical_id)
    """


def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate ADMISSION CONTROL end to end (r9): the
    documents table is hash-split into two ingest slices staged as
    sequential file-source drains sharing one checkpoint; each
    micro-batch is classified against the ACCUMULATED admitted corpus
    (exact digest + md5 MinHash bands + exact Jaccard ≥ 0.5 verify) and
    its admitted documents fold into the corpus before the next drain.
    Batch 0 admits everything (empty corpus — batch-internal duplicates
    are by contract the in-batch dedup's job); batch 1's flags equal
    ``incremental_dedup(new_half, existing_half)``, so the oracle is the
    proven md5-band restatement UNIONed with the trivial batch-0 rows.
    The foreachBatch sinks write batch_id-partitioned overwrites and the
    corpus read excludes the current batch_id, so replayed epochs are
    idempotent (streaming/admission.py)."""
    import tempfile
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    from bda_spadochrony_spark.streaming.admission import (
        read_admission_results, stream_admission_dedup)
    from bda_spadochrony_spark.streaming.sources import file_stream
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    configure(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    is_existing = hash_bucket("doc_id") < F.lit(2147483648)
    base = tempfile.mkdtemp(prefix="bda_admit_q_")
    in_dir = f"{base}/in"
    corpus, results, ckpt = f"{base}/corpus", f"{base}/res", f"{base}/ckpt"
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs.where(is_existing).write.parquet(f"{in_dir}/b0")
        stream_admission_dedup(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            "doc_id", "text", corpus, results, checkpoint=ckpt,
            min_jaccard=0.5, hash_fn="md5")
        docs.where(~is_existing).write.parquet(f"{in_dir}/b1")
        stream_admission_dedup(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            "doc_id", "text", corpus, results, checkpoint=ckpt,
            min_jaccard=0.5, hash_fn="md5")
        out = read_admission_results(spark, results)
        # eager checkpoint pins the result in the block manager, so the
        # staging/corpus/results/checkpoint dirs can be removed — a
        # correctness sweep runs this query dozens of times per round
        out = out.select("doc_id", "dup_exact", "dup_near", "admitted") \
                 .localCheckpoint(eager=True)
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction (rows-only by design: the eigensolve
    has no SQL twin): covariance is computed DISTRIBUTED in one pass,
    only the d x d matrix reaches the driver for numpy eigh, and the
    projection is a pure map with the sign-fixed basis inlined as
    literals — zero shuffle, zero Python on the transform path. Basis
    determinism + numpy parity are unit-tested
    (test_pca_project_matches_numpy)."""
    from bda_spadochrony_spark.ml.stats import pca_project
    from bda_spadochrony_spark.functions.numeric import stable_round
    emb = _t(spark, sf_dir, "embeddings")
    out = pca_project(emb, "vec_id", "embedding", k=4)
    return out.select("vec_id",
                      *[stable_round(F.col(f"pc{i}"), 4).alias(f"pc{i}")
                        for i in range(1, 5)])


def q_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-oracled PCA twin (r5 ask #7): with the FULL eigenbasis,
    per-vector projected norm² must equal centered norm² — the right side
    is plain SQL, so the oracle value-checks the covariance pass, the
    eigensolve's orthonormality, and the literal projection map without
    running an eigensolve itself. pca_project stays rows-only (the top-k
    basis VALUES are inherently engine-side); this pins its machinery.
    Runs under 8 shuffle partitions — every shuffle in the fit is
    dimension-keyed (d or d(d+1)/2 rows), so 32 partitions were mostly
    empty tasks."""
    from bda_spadochrony_spark.ml.stats import pca_norm_invariant
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        emb = _t(spark, sf_dir, "embeddings")
        return pca_norm_invariant(emb, "vec_id", "embedding",
                                  round_digits=4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled distributed classifier: per-label mean centroids
    (posexplode → |labels|·d aggregate, dimension-sized) and nearest-
    centroid assignment (broadcast centroid join + (id,label) partial-sum
    shuffle + struct-min argmin) — no driver collect, no pairwise rows,
    and unlike KMeans/GBT every value is SQL-checkable. Distances are
    stable-rounded before the argmin so accumulation order can't flip a
    near-tie."""
    from bda_spadochrony_spark.ml.centroids import (centroid_classify,
                                                    label_centroids)
    emb = _t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "embedding", "label")
    return centroid_classify(emb, "vec_id", "embedding", cents)


def q_classify_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation as a first-class operator: confusion-matrix
    counts (label, pred_label, n) of the nearest-centroid classifier
    against the true labels — one id-keyed join + one |labels|² count
    shuffle. Accuracy = trace/total downstream."""
    from bda_spadochrony_spark.ml.centroids import (centroid_classify,
                                                    classification_report,
                                                    label_centroids)
    emb = _t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "embedding", "label")
    pred = centroid_classify(emb, "vec_id", "embedding", cents)
    return classification_report(pred, emb, "vec_id")


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-drift monitor: per-source KL divergence of the source's
    token distribution from the corpus distribution — one token scan,
    per-(source, token) counts checkpointed and rolled up three ways
    (group totals, corpus token counts, corpus total). No smoothing
    needed: every source token exists in the corpus by construction."""
    from bda_spadochrony_spark.operators.corpus import source_kl_divergence
    docs = _t(spark, sf_dir, "documents")
    return source_kl_divergence(docs, "source", "text")


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission verdict a production filter pipeline emits: length
    floor + Gopher repetition metrics + unigram-surprisal band composed
    into keep/drop with the first failing reason per document. Inputs
    are stable-rounded before thresholding so the verdict is engine-
    exact; thresholds chosen so every reason fires on the testdata (the
    oracle is non-vacuous for each branch)."""
    from bda_spadochrony_spark.operators.corpus import quality_gate
    docs = _t(spark, sf_dir, "documents")
    return quality_gate(docs, "doc_id", "text")


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One K-Means Lloyd iteration under the value oracle — the
    distributed core of iterative clustering (MLlib runs exactly this
    dataflow per round): deterministic seed centers (every 100th vector,
    the IVF portable twin's convention), nearest-center assignment, and
    the |centers|·d mean recompute. The loop is driver logic; the STEP is
    what the engine owns, and it is SQL-checkable end-to-end."""
    from bda_spadochrony_spark.ml.centroids import kmeans_lloyd_step
    from bda_spadochrony_spark.operators.similarity import finite_vectors
    emb = _t(spark, sf_dir, "embeddings")
    # seeds share the step's moment guard: a junk seed IS a junk center
    seeds = (finite_vectors(emb, "embedding")
             .where(F.col("vec_id") % 100 == 0)
             .select(F.col("vec_id").alias("label"),
                     F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("pos0", "mu"))
             .select("label", (F.col("pos0") + 1).alias("pos"), "mu"))
    out = kmeans_lloyd_step(emb, "vec_id", "embedding", seeds,
                            round_digits=4)
    return out.select(F.col("label").cast("long").alias("center_id"),
                      F.col("pos").cast("int").alias("pos"), "mu")


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric outlier filter for embedding columns: top-20 vectors by
    diagonal Mahalanobis distance² (sum of squared per-dimension
    z-scores) — the cheap pre-ANN screen for corrupt embeddings.
    Broadcast stats + one id-keyed sum + TakeOrdered head."""
    from bda_spadochrony_spark.ml.stats import embedding_outliers
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, "vec_id", "embedding", top_n=20)


def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-key profiling: hottest order keys of the
    lineitem fact with their share and the key-space skew factor — the
    numbers that pick plain shuffle vs AQE splitting vs explicit salting
    before a 100 TB join. Global rank pre-pruned per hash group."""
    from bda_spadochrony_spark.operators.skew import key_skew_diagnostics
    li = _t(spark, sf_dir, "lineitem")
    return key_skew_diagnostics(li, "l_orderkey", top_k=10)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for two-column data skipping: events
    keyed by the bit-interleave of (user_id, hour) — range partition +
    local sort on the code, so every output file covers a small bounding
    box in BOTH dimensions and parquet min/max stats prune predicates on
    either (Delta/Iceberg ZORDER BY as a plain operator). The contract
    returns the first 100 rows of the clustered order (TakeOrdered), so
    the oracle verifies the exact bit arithmetic."""
    from bda_spadochrony_spark.operators.layout import zorder_layout
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.hour("ts").alias("hr"))
    out = zorder_layout(ev, "user_id", "hr", bits=8, num_partitions=8)
    return (out.orderBy("zkey", "event_id").limit(100)
            .select("event_id", "zkey"))


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an observation log:
    per user, consecutive re-observations of the same event_type merge
    into one validity interval; each version row carries valid_from /
    valid_to (NULL = current) + is_current — the warehouse temporal-
    table MERGE, as one key-partitioned window pass (no self-joins).
    Timestamp ties break on the attribute tuple in both engines."""
    from bda_spadochrony_spark.operators.scd import scd2_history
    ev = _t(spark, sf_dir, "events")
    return scd2_history(ev.select("user_id", "event_type", "ts"),
                        "user_id", ["event_type"], "ts")


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join sizing: the EXACT lineitem ⋈ orders output
    cardinality computed from per-key counts (Σ n_l·n_r) without running
    the data-sized join — two count aggregates + a key-sized count join.
    The companion to skew_diagnostics: together they answer 'how big and
    how skewed' before a 100 TB shuffle is committed."""
    from bda_spadochrony_spark.operators.skew import join_cardinality_estimate
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return join_cardinality_estimate(li, orders, "l_orderkey", "o_orderkey")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered behavioral funnel (click → view → purchase): per step, the
    users who performed every prior step in temporal order, earliest-
    occurrence-after-previous semantics (greedy = optimal). One union of
    per-step survivor frames counted in a single plan — no per-step
    driver actions, no event-vs-event self-joins."""
    from bda_spadochrony_spark.operators.analytics import funnel_analysis
    ev = _t(spark, sf_dir, "events")
    return funnel_analysis(ev, "user_id", "event_type", "ts",
                           ["click", "view", "purchase"])


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = first-activity week; k = whole
    weeks since the cohort week's start (relative day arithmetic — no
    engine week-truncation quirks in the offsets); one (user, k) dedup +
    one count shuffle."""
    from bda_spadochrony_spark.operators.analytics import cohort_retention
    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", max_periods=8)


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (deequ-style): five constraints over
    the events table — null, range, set-membership, regex, uniqueness —
    reported as one row per rule. All row-level rules share ONE scan (a
    single multi-aggregate); uniqueness adds one exact count-distinct.
    The CI check a lake pipeline runs before publishing."""
    from bda_spadochrony_spark.operators.expectations import (
        check_expectations, expect_between, expect_in_set, expect_matches,
        expect_not_null, expect_unique)
    ev = _t(spark, sf_dir, "events")
    return check_expectations(ev, [
        expect_not_null("user_id"),
        expect_between("value", 0, 100),
        expect_in_set("event_type",
                      ["click", "view", "purchase", "signup", "error"]),
        expect_matches("props", "^\\{"),
        expect_unique("event_id"),
    ])


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-30 token pairs by document-level PMI,
    restricted UP FRONT to the 50 most frequent tokens so the doc-keyed
    co-occurrence join is bounded at 50²/2 pairs per document at any
    corpus size; document frequencies reuse the same deduped inverted
    index (checkpointed — three consumers)."""
    from bda_spadochrony_spark.operators.corpus import token_pmi
    docs = _t(spark, sf_dir, "documents")
    return token_pmi(docs, "doc_id", "text", top_tokens=50, top_k=30)


def q_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration over the embedding near-dup graph
    (cosine ≥ 0.42 pairs), uniform seed — iterative graph centrality's
    distributed step under the value oracle, the same loop-is-driver /
    step-is-engine contract as kmeans_step. Within a near-dup cluster
    rank concentrates on the most-connected member (a centrality-based
    canonical choice)."""
    from bda_spadochrony_spark.operators.dedup import pagerank_step
    from bda_spadochrony_spark.operators.similarity import pairwise_cosine_blocked
    emb = _t(spark, sf_dir, "embeddings")
    pairs = pairwise_cosine_blocked(emb, "vec_id", min_cosine=0.42, blocks=4)
    return (pagerank_step(pairs, round_digits=6)
            .select(F.col("id").cast("long").alias("id"), "rank"))


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of event values (10 buckets): exact decile
    boundaries from ONE percentile aggregate, broadcast assignment, one
    count shuffle — the selectivity/range-partitioning statistic that
    fixed-width bins lose under skew. Boundaries stable-rounded before
    comparison on both engines."""
    from bda_spadochrony_spark.operators.aggregates import equi_depth_histogram
    ev = _t(spark, sf_dir, "events")
    return equi_depth_histogram(ev, "value", buckets=10)


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order LM scoring: per-document mean conditional bigram
    surprisal under the corpus's own bigram model — the step between
    unigram_surprisal and a real perplexity filter. Indexed pair map
    (no self-joins), checkpointed pair counts, one id-keyed average."""
    from bda_spadochrony_spark.operators.corpus import bigram_surprisal
    docs = _t(spark, sf_dir, "documents")
    return bigram_surprisal(docs, "doc_id", "text")


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time temporal join: facts pick the SCD2 dimension version
    valid at their timestamp (half-open [valid_from, valid_to), NULL =
    current) — the correctness half of the versioned-dim story; here the
    dim is the scd2_history of the event stream itself, so every event
    must land in exactly one version window (the oracle checks WHICH
    one, value by value). Equi join on the key + disjoint-interval
    filter: no nested loop, no fan-out."""
    from bda_spadochrony_spark.operators.scd import (point_in_time_join,
                                                     scd2_history)
    ev = _t(spark, sf_dir, "events")
    dim = scd2_history(ev.select("user_id", "event_type", "ts"),
                       "user_id", ["event_type"], "ts")
    out = point_in_time_join(ev.select("event_id", "user_id", "ts"),
                             dim.select("user_id", "valid_from", "valid_to"),
                             "user_id", "ts")
    return out.select("event_id", "valid_from")


def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with blocking: each customer's best-edit-distance
    supplier within the same nation (blocked equi join + struct-min —
    candidate space is per-nation, never the cross product; ties to the
    smallest supplier key). The data-integration primitive behind
    dedupe-across-sources at 100 TB, where blocking choice IS the
    scalability story."""
    from bda_spadochrony_spark.operators.joins import fuzzy_best_match
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_nationkey").alias("nk"))
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.col("s_nationkey").alias("nk"))
    return fuzzy_best_match(cust, supp, ["nk"], "c_custkey", "s_suppkey",
                            "c_name", "s_name")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res,
    inclusion ∝ weight): 100 documents drawn by length weight — the
    quality-weighted subsample where better documents survive more often
    but nothing is excluded outright. Deterministic hash draw, so the
    oracle reproduces the exact sample; keys stable-rounded (libm vs JVM
    log ulp) with id tie-break; global rank pre-pruned per hash group."""
    from bda_spadochrony_spark.operators.sampling import weighted_sample
    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars", k=100)
    return out.select("doc_id", "n_chars")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spread: seed every 5th embedding with its
    true label, run ONE propagation round over the cosine ≥ 0.42 graph —
    unlabeled nodes adopt their labeled neighbors' majority label (ties →
    smallest). The oracle recomputes the graph and the vote exhaustively,
    so the round is value-verified end-to-end."""
    from bda_spadochrony_spark.operators.dedup import label_propagation_step
    from bda_spadochrony_spark.operators.similarity import pairwise_cosine_blocked
    emb = _t(spark, sf_dir, "embeddings")
    pairs = pairwise_cosine_blocked(emb, "vec_id", min_cosine=0.42, blocks=4)
    pairs = pairs.localCheckpoint(eager=False)
    seeds = (emb.where(F.col("vec_id") % 5 == 0)
             .select(F.col("vec_id").alias("id"), F.col("label")))
    return label_propagation_step(pairs, seeds)


def q_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding: top-100-token vocab built from the corpus
    itself (deterministic ranking), each document re-emitted as its
    token-id sequence with OOV→0 — order-stable reassembly via
    sort_array over (pos, id) structs."""
    from bda_spadochrony_spark.operators.corpus import build_vocab, tokens_to_ids
    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=100)
    out = tokens_to_ids(docs, "doc_id", "text", vocab)
    # Serialize the id array for the driver's hash: its pandas
    # canonicalization cannot sort raw numpy arrays (CORRECTNESS_r04 err;
    # the proven q_array_agg pattern).
    return out.select("doc_id",
                      F.concat_ws(",", F.col("token_ids").cast("array<string>"))
                      .alias("token_ids"))


def q_detokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECODE half of vocabulary encoding (r11): every document is
    encoded against the corpus-derived top-100 vocab (``tokens_to_ids``,
    OOV→0) and decoded straight back (``ids_to_tokens``, 0→'<unk>') —
    the audit view a training pipeline uses to inspect its sequences.
    The round trip is exact on in-vocabulary tokens and
    token-count-preserving everywhere; ``n_unk`` is the per-document
    information loss. One vocab fit feeds both directions."""
    from bda_spadochrony_spark.operators.corpus import (build_vocab,
                                                        ids_to_tokens,
                                                        tokens_to_ids)
    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=100).localCheckpoint(eager=False)
    ids = tokens_to_ids(docs, "doc_id", "text", vocab)
    out = ids_to_tokens(ids, "doc_id", "token_ids", vocab)
    return out.select("doc_id", "detok",
                      F.col("n_unk").cast("long").alias("n_unk"))


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concat-and-cut context-window assignment
    (512-token windows, 8 shards packed independently in doc-id order)."""
    from bda_spadochrony_spark.operators.corpus import pack_documents
    docs = _t(spark, sf_dir, "documents")
    return pack_documents(docs, "doc_id", "text", budget=512, num_shards=8)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document (distinct-token
    fraction, top-token fraction, duplicate-3-gram fraction) — the
    low-quality-content filter signals for corpus prep."""
    from bda_spadochrony_spark.operators.text import repetition_features
    docs = _t(spark, sf_dir, "documents")
    out = repetition_features(docs, "doc_id", "text")
    return out.select("doc_id", "r_n_tokens", "r_distinct_token_fraction",
                      "r_top_token_fraction", "r_dup_3gram_fraction")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL redaction pass. The corpus is synthetic word-soup with no
    real PII, so the query plants a deterministic email/URL/digit-run per
    document first (both engines build the identical augmented text) and
    the scrubber must actually remove them — a non-vacuous oracle."""
    from bda_spadochrony_spark.operators.text import pii_scrub
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com see https://ex.org/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" ref 123456789 end"))
    return docs.select("doc_id", pii_scrub(aug).alias("scrubbed"))


def q_ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2+W1 composite — the reference's ML feature/target frame
    (``pyspark/ML_stock.py:87-171``): calendar + one-hot features and a
    forward range-window label, fully SQL-expressible."""
    from bda_spadochrony_spark.ml.features import build_features
    ev = _t(spark, sf_dir, "events").withColumn("ts_unix", F.unix_timestamp("ts"))
    ev = range_frame_agg(ev, "ts_unix", (0, 3600), [(F.sum("value"), "label")])
    feats = build_features(ev, "ts", "event_type",
                           ["click", "view", "purchase"], prefix="et")
    return feats.select("event_id", "hour", "dayofweek", "month", "et_click",
                        "et_view", "et_purchase", "et_other",
                        stable_round(F.col("label"), 2).alias("label"))


def q_ml_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4-M7 — seeded split, regression fit (XGBoost or GBT fallback), MAE
    on both splits. Model output is not SQL-expressible → rows-only check."""
    from bda_spadochrony_spark.ml.features import build_features, assemble_vector
    from bda_spadochrony_spark.ml.regress import train_regressor, evaluate_mae
    ev = _t(spark, sf_dir, "events").withColumn("ts_unix", F.unix_timestamp("ts"))
    ev = range_frame_agg(ev, "ts_unix", (0, 3600), [(F.sum("value"), "label")])
    feats = build_features(ev, "ts", "event_type",
                           ["click", "view", "purchase"], prefix="et")
    cols = ["hour", "dayofweek", "month", "et_click", "et_view",
            "et_purchase", "et_other", "value"]
    vec = assemble_vector(feats.na.drop("any", subset=cols + ["label"]), cols)
    model, train_pred, test_pred = train_regressor(vec, "label", n_estimators=5)
    mae_train, mae_test = evaluate_mae(train_pred, "label"), evaluate_mae(test_pred, "label")
    return spark.createDataFrame(
        [(float(mae_train), float(mae_test), train_pred.count(), test_pred.count())],
        ["mae_train", "mae_test", "n_train", "n_test"])


def q_ml_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear regression (normal equations, centered form) of
    l_extendedprice on l_quantity + MAE of the fitted line — the fully
    ORACLED regression twin of the rows-only GBT/XGBoost leg (reference
    ``pyspark/ML_stock.py:190,204-216``): same fit/evaluate contract, but
    every number is a deterministic aggregate both engines reproduce."""
    from bda_spadochrony_spark.ml.regress import linear_fit
    li = _t(spark, sf_dir, "lineitem")
    out = linear_fit(li, "l_quantity", "l_extendedprice")
    return out.select(F.col("n"),
                      stable_round(F.col("slope"), 6).alias("slope"),
                      stable_round(F.col("intercept"), 6).alias("intercept"),
                      stable_round(F.col("mae"), 6).alias("mae"))


def q_traffic_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hardest batch pipeline, end to end
    (``pyspark/batch_tomtom.py:86-122``): NY wall-clock date/hour,
    per-(date,hour,category,id) null-domain avgs + null-skipping count +
    struct-max modes (inner-joined), then the unweighted avg-of-avgs
    roll-up with mode-of-modes. Events are mapped onto the tomtom shape
    with deterministic null injection so every null-semantics branch is
    exercised."""
    from bda_spadochrony_spark.plans.pipelines import traffic_hourly
    return traffic_hourly(_tomtom_shaped(spark, sf_dir))


def _tomtom_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events mapped onto the tomtom shape with deterministic null
    injection so every null-semantics branch is exercised."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("ts").alias("observationTime"),
        F.col("event_type").alias("iconCategory"),
        F.col("user_id").alias("id"),
        F.when(F.col("value") < 5, None).otherwise(F.col("value")).alias("delay"),
        F.when(F.col("value") > 95, None).otherwise(F.col("value") * 2).alias("length"),
        F.when(F.col("user_id") % 10 == 0, None)
         .otherwise((F.col("user_id") % 3).cast("string"))
         .alias("probabilityOfOccurrence"),
        F.floor(F.minute("ts") / 15).cast("int").cast("string")
         .alias("magnitudeOfDelay"),
    )


def q_traffic_hourly_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB rewrite of ``traffic_hourly``: identical rows (checked
    against the SAME SQL oracle), one fused fine-level aggregate instead
    of five scans + four joins — the demonstration that parity semantics
    and a scale-shaped plan are not in tension."""
    from bda_spadochrony_spark.plans.pipelines import traffic_hourly_fused
    return traffic_hourly_fused(_tomtom_shaped(spark, sf_dir))


def q_stock_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``batch_stock.py`` composite, end to end: epoch-seconds int input →
    NY wall clock → −20-minute feed-skew → hourly count + 7 rounded
    averages, sink-side sort. Events mapped onto the stock shape with
    value-derived measure columns."""
    from bda_spadochrony_spark.plans.pipelines import stock_hourly
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    shaped = ev.select(
        F.unix_timestamp("ts").cast("int").alias("timestamp"),
        v.alias("volume"), (v * 2).alias("vwap"), (v + 1).alias("open"),
        (v + 2).alias("close"), (v * 1.5).alias("high"),
        (v * 0.5).alias("low"), (v % 7).alias("transactions"))
    return stock_hourly(shaped)


def q_weather_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``batch_openweather.py`` composite, end to end: hourly count + 9
    rounded averages joined with TWO struct-max modes on (date, hour) —
    the reference's two-scan agg+mode join shape (the fused single-scan
    rewrite is oracled separately as ``hourly_with_mode``)."""
    from bda_spadochrony_spark.plans.pipelines import weather_hourly
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    shaped = ev.select(
        F.col("ts").alias("timestamp"),
        v.alias("temp"), (v * 2).alias("visibility"), (v + 10).alias("pressure"),
        (v % 100).alias("clouds"), (v - 1).alias("feels_like"),
        (v + 5).alias("temp_max"), (v - 5).alias("temp_min"),
        (v % 50).alias("humidity"), (v / 2).alias("wind_speed"),
        F.col("event_type").alias("weather_main"),
        F.concat_ws("-", F.col("event_type"),
                    (F.col("user_id") % 2).cast("string"))
         .alias("weather_description"))
    return weather_hourly(shaped)


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (enumerated as an intended option at reference
    ``stream_combined.py:197``): orders having at least one late-shipped
    lineitem — TPC-H Q4 shape. Predicate inside the 1995–2001 shipdate
    range so the semi join selects a real subset (~never 0 rows)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1998-06-01"))
    sel = orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
    return group_agg(sel, ["o_orderpriority"],
                     [F.count(F.lit(1)).alias("n_orders")])


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no RECENT orders (orders from 1998
    on). The date filter makes the anti join genuinely selective — at
    sf0.01 every customer has *some* order, so an unfiltered anti join
    would be vacuously empty."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    recent = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    no_recent = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    return group_agg(no_recent, ["c_mktsegment"],
                     [F.count(F.lit(1)).alias("n_customers")])


def q_range_window_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 scale path — the same forward range frame PARTITIONED by date, so
    it distributes (one partition per day instead of one global partition;
    frames truncate at day bounds by design — the documented trade
    SURVEY §7.4 risk 5)."""
    ev = _t(spark, sf_dir, "events").withColumn("ts_unix", F.unix_timestamp("ts"))         .withColumn("date", F.to_date("ts"))
    out = range_frame_agg(ev, "ts_unix", (0, 3600),
                          [(F.sum("value"), "next_hour_value")],
                          partition_by=["date"])
    return out.select("event_id", "ts_unix",
                      stable_round(F.col("next_hour_value"), 2).alias("next_hour_value"))


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals (absent from the reference,
    SURVEY §2.4 absent-ops row; free in Spark and exposed by the engine)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    return ev.rollup("date", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        stable_round(F.sum("value"), 2).alias("sum_value"))


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all grouping-set combinations."""
    ev = _t(spark, sf_dir, "events")
    return ev.cube("event_type", F.year("ts").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("cnt"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates: count(DISTINCT) + exact distinct collection
    size per group (SURVEY §2.4 absent-ops row)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"))


def q_random_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — seeded randomSplit (reference 70/30 seed 42,
    ``pyspark/ML_stock.py:190``). Split membership is partition-layout
    dependent → rows-only check; determinism within a layout is tested."""
    ev = _t(spark, sf_dir, "events")
    train, test = ev.randomSplit([0.7, 0.3], seed=42)
    return spark.createDataFrame(
        [(train.count(), test.count())], ["n_train", "n_test"])


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator — per-user event sessions closed
    by a 30-minute inactivity gap, via applyInPandasWithState with
    event-time timeouts. The incremental state machine IS SQL-verifiable
    after an availableNow drain: emitted rows = gaps-and-islands sessions
    minus the still-open ones, i.e. every non-final session per user plus
    each user's final session iff the final event-time watermark
    (max ts − 10 min) strictly passed its timeout (last event + gap)."""
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.stateful import sessionize
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    stream = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
    out = run_available_now(spark, sessionize(stream, gap_seconds=1800),
                            timeout_s=300)
    return out.select("user_id", "session_start", "session_end", "n_events",
                      stable_round(F.col("sum_value"), 2).alias("sum_value"))


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (KMeans coarse quantizer, 4-of-16 cells
    probed). Approximate by design → rows-only check; recall unit-tested."""
    from bda_spadochrony_spark.operators.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb, "vec_id", "vec_id", k=3, n_lists=16, n_probe=4)
    return out.select("query_id", "corpus_id",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session windows: per-user sessions closed by 30 min of
    inactivity (batch form; the streaming twin is watermark-bounded).
    Oracle = classic gaps-and-islands SQL."""
    from bda_spadochrony_spark.operators.windows import session_window_agg
    ev = _t(spark, sf_dir, "events")
    out = session_window_agg(ev, "ts", "30 minutes", keys=["user_id"],
                             measures=[F.count(F.lit(1)).alias("n_events"),
                                       stable_round(F.sum("value"), 2).alias("sum_value")])
    return out.select("user_id", "session_start", "session_end",
                      "n_events", "sum_value")


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — two roles of the same dimension (customer nation vs
    supplier nation) in one join tree, revenue by nation pair."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
           .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
           .where(F.col("cust_nation") != F.col("supp_nation")))
    return group_agg(j, ["cust_nation", "supp_nation"], [
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items")])


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average
    quantity) decorrelated into a pre-aggregate + join."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty"))
    j = li.join(part_avg, "l_partkey").where(F.col("l_quantity") < F.col("half_avg_qty"))
    return j.agg(stable_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
                 F.count(F.lit(1)).alias("n_small"))


def q_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS + NOT-EXISTS combo: suppliers solely
    to blame for a late multi-supplier order. Decorrelated into two
    aggregates over the same per-(order, supplier) frame (late =
    shipped > 90 days after ordering); the oracle states it with the
    original correlated EXISTS / NOT EXISTS so both formulations are
    proven equivalent."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    l = li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey")) \
          .withColumn("late", F.col("l_shipdate") >
                      F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    per = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("sup_late"))
    per_order = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("sup_late").alias("n_late"))
    blame = per.join(per_order, "l_orderkey") \
               .where((F.col("sup_late") == 1) & (F.col("n_supp") > 1) &
                      (F.col("n_late") == 1))
    return blame.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — aggregate-of-aggregates selection: the supplier(s)
    whose quarterly revenue equals the maximum, via a broadcast scalar
    join back onto the revenue aggregate (no window, no second scan of
    the fact table)."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.where((F.col("l_shipdate") >= F.lit("1996-01-01")) &
                 (F.col("l_shipdate") < F.lit("1996-04-01")))
    rev = q.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    mx = rev.agg(F.max("r").alias("mx"))
    return (rev.join(F.broadcast(mx), rev.r == F.col("mx"))
            .select("l_suppkey", stable_round(F.col("r"), 2).alias("total_rev")))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping indicators — finer than
    rollup/cube: exactly the (event_type), (date), and grand-total sets,
    with grouping() flags disambiguating real NULLs from subtotal rows."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    return ev.groupingSets([["event_type"], ["date"], []],
                           "event_type", "date").agg(
        F.count(F.lit(1)).alias("cnt"),
        stable_round(F.sum("value"), 2).alias("sum_value"),
        F.grouping("event_type").cast("int").alias("g_et"),
        F.grouping("date").cast("int").alias("g_date"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True as-of join (cogrouped applyInPandas + merge_asof): each click
    event enriched with the user's latest preceding error event. Oracle =
    DuckDB's native ASOF LEFT JOIN."""
    from bda_spadochrony_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
               .select(F.col("event_id").alias("err_event_id"), "user_id",
                       F.col("ts").alias("err_ts"))
    return asof_join(clicks, errors, "ts", "err_ts", by=["user_id"])


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (median + p90, linear interpolation) —
    Spark ``percentile`` ≡ DuckDB ``quantile_cont``."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        stable_round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        stable_round(F.expr("percentile(value, 0.9)"), 4).alias("p90"))


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string family: upper/substring/lpad/concat/regexp_extract
    (simple patterns shared by Java and RE2 regex dialects)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("et_upper"),
        F.substring("event_type", 1, 3).alias("et_prefix"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("uid_padded"),
        F.concat_ws("|", "event_type", F.col("user_id").cast("string")).alias("et_uid"),
        F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("k_str"))


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies via explode — the inverted-index building
    block — with a deterministic top-20."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " +")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    from bda_spadochrony_spark.operators.windows import ranked
    top = ranked(counts.withColumn("__g", F.lit(1)), ["__g"],
                 [F.col("n").desc(), F.col("token").asc()], "rn")
    return top.where(F.col("rn") <= 20).select("token", "n", "rn")


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches: HyperLogLog distinct counts + approximate
    percentile per group. Rows-only BY DESIGN, documented refusal: the
    estimates are implementation-specific (Spark's HLL++ register
    layout and quantile sketch do not match DuckDB's approx functions
    bit-for-bit, and neither engine promises cross-version stability),
    so no portable oracle can exist for the estimate VALUES. Accuracy
    is asserted vs exact counts in unit tests, and the mergeable-sketch
    contract (the part a 100 TB rollup actually relies on) is fully
    oracled by ``sketch_mergeable`` — merged-sketch estimates equal
    whole-input estimates, hash-checked against exact counts."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 1000).alias("approx_p50"))


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window family (SURVEY §2.5 absent-ops row): lag/lead
    navigation, first_value, percent_rank, ntile, and a running sum — all
    over ONE per-user ordered window (single shuffle shared by every
    measure)."""
    from pyspark.sql import Window
    from bda_spadochrony_spark.operators.windows import analytic_window
    ev = _t(spark, sf_dir, "events")
    # NULLS FIRST pinned explicitly on BOTH sides: Spark's asc() is
    # NULLS FIRST but DuckDB's ORDER BY defaults NULLS LAST, so an event
    # with an unparseable (NULL) timestamp silently reorders the whole
    # partition's lag/lead/rank chain (r6 pathological-events finding)
    order = [F.col("ts").asc_nulls_first(), F.col("event_id").asc()]
    out = analytic_window(ev, ["user_id"], order, [
        (F.lag("value", 1), "prev_value"),
        (F.lead("event_type", 1), "next_type"),
        (F.first("value"), "first_val"),
        (F.percent_rank(), "pr"),
        (F.ntile(4), "nt"),
    ])
    out = analytic_window(out, ["user_id"], order,
                          [(F.sum("value"), "run_sum")],
                          frame=(Window.unboundedPreceding, Window.currentRow))
    return out.select("event_id", "user_id",
                      "prev_value", "next_type", "first_val",
                      stable_round(F.col("pr"), 6).alias("pr"),
                      F.col("nt").cast("int").alias("nt"),
                      stable_round(F.col("run_sum"), 2).alias("run_sum"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference): users with a high-value
    purchase AND a high-value click (INTERSECT, distinct semantics) minus
    users with a high-value error (EXCEPT). The value filter keeps every
    stage selective — each set op provably removes rows."""
    ev = _t(spark, sf_dir, "events")
    hi = ev.filter(F.col("value") > 90)
    purch = hi.filter(F.col("event_type") == "purchase").select("user_id")
    click = hi.filter(F.col("event_type") == "click").select("user_id")
    err = hi.filter(F.col("event_type") == "error").select("user_id")
    return purch.intersect(click).subtract(err)


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of the pivot crosstab: the per-date
    event-type count matrix back to long (date, metric, n) rows."""
    metrics = ["n_click", "n_view", "n_purchase", "n_signup", "n_error"]
    piv = q_pivot(spark, sf_dir)
    return piv.unpivot("date", metrics, "metric", "n")


def q_min_cost_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated MIN subquery (cheapest lineitem per
    part) decorrelated into a pre-aggregate + equality join back, the
    standard Catalyst-friendly rewrite."""
    li = _t(spark, sf_dir, "lineitem")
    floor_price = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("min_price"))
    at_min = li.join(floor_price, "l_partkey") \
               .where(F.col("l_extendedprice") == F.col("min_price"))
    return group_agg(at_min, ["l_partkey"], [
        stable_round(F.min("min_price"), 2).alias("min_price"),
        F.count(F.lit(1)).alias("n_at_min"),
        F.min("l_suppkey").alias("first_supp"),
    ])


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share: one nation's revenue fraction per
    order year, via conditional aggregation over the star join (broadcast
    dims, single fact scan)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # NATION_5 exists in the synthetic nation table (the classic query's
    # BRAZIL would make the conditional aggregate vacuously zero here)
    target = F.when(F.col("n_name") == "NATION_5", rev).otherwise(F.lit(0.0))
    out = j.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        stable_round(F.sum(target) / F.sum(rev), 6).alias("mkt_share"),
        stable_round(F.sum(rev), 2).alias("total_rev"))
    return sort_by(out, ["o_year"])


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping priority: revenue of not-yet-shipped
    lineitems for one market segment's orders, top 10 by revenue.
    Dimension filters (segment, cutoff date) are pushed into both scans;
    the deterministic top-10 uses (revenue desc, orderkey) ranking."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    j = (li.where(F.col("l_shipdate") > cutoff)
           .join(orders.where(F.col("o_orderdate") < cutoff),
                 li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
                 orders.o_custkey == cust.c_custkey, "left_semi"))
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"))
    from bda_spadochrony_spark.operators.windows import ranked
    top = ranked(agg.withColumn("__g", F.lit(1)), ["__g"],
                 [F.col("revenue").desc(), F.col("l_orderkey").asc()], "rn")
    return top.where(F.col("rn") <= 10).select(
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: orders in one quarter with
    at least one late lineitem (EXISTS decorrelated to a left-semi join;
    'late' = shipped > 60 days after ordering, the same proxy the Q21
    shape uses since the synthetic lineitem has no commit/receipt dates)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    q = orders.where((F.col("o_orderdate") >= F.lit("1997-01-01")) &
                     (F.col("o_orderdate") < F.lit("1997-04-01")))
    late = li.join(q.select("o_orderkey", "o_orderdate"),
                   li.l_orderkey == F.col("o_orderkey")) \
             .where(F.col("l_shipdate") >
                    F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")) \
             .select("l_orderkey")
    hit = q.join(late, q.o_orderkey == late.l_orderkey, "left_semi")
    return sort_by(group_agg(hit, ["o_orderpriority"],
                             [F.count(F.lit(1)).alias("order_count")]),
                   ["o_orderpriority"])


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — local supplier volume: revenue where the customer
    and supplier share a nation, restricted to one region and one order
    year. Region→nation prune broadcast both dimension roles; the
    c_nationkey = s_nationkey constraint rides the join output."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia_nations = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey).select("n_nationkey", "n_name")
    j = (li.join(orders.where((F.col("o_orderdate") >= F.lit("1997-01-01")) &
                              (F.col("o_orderdate") < F.lit("1998-01-01"))),
                 li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(supp),
                 (li.l_suppkey == supp.s_suppkey) &
                 (cust.c_nationkey == supp.s_nationkey))
           .join(F.broadcast(asia_nations),
                 supp.s_nationkey == F.col("n_nationkey")))
    return group_agg(j, ["n_name"], [
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items")])


def q_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — forecast revenue change: a pure filter-and-sum
    whose predicates (year, discount band, quantity cap) all push to the
    parquet scan; the plan is scan→partial agg→final agg, zero joins."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.where((F.col("l_shipdate") >= F.lit("1997-01-01")) &
                 (F.col("l_shipdate") < F.lit("1998-01-01")) &
                 (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) &
                 (F.col("l_quantity") < 10))
    return q.agg(stable_round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: per-customer lost revenue
    from returned lineitems in one quarter, top 20 customers with their
    nation (broadcast dims; deterministic (revenue desc, custkey) rank)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = (li.where(F.col("l_returnflag") == "R")
           .join(orders.where((F.col("o_orderdate") >= F.lit("1997-07-01")) &
                              (F.col("o_orderdate") < F.lit("1997-10-01"))),
                 li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"))
    from bda_spadochrony_spark.operators.windows import ranked
    top = ranked(agg.withColumn("__g", F.lit(1)), ["__g"],
                 [F.col("revenue").desc(), F.col("c_custkey").asc()], "rn")
    return top.where(F.col("rn") <= 20).select(
        "c_custkey", "c_name", "revenue", "c_acctbal", "n_name")


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: LEFT OUTER join
    customer→(non-urgent orders), per-customer count (counting the join
    column so no-order customers count 0), then a second aggregation over
    the counts. Two shuffles by construction — the histogram re-keys."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    no = orders.where(F.col("o_orderpriority") != "1-URGENT") \
               .select("o_orderkey", "o_custkey")
    per_cust = (cust.select("c_custkey")
                .join(no, cust.c_custkey == no.o_custkey, "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return sort_by(per_cust.groupBy("c_count")
                   .agg(F.count(F.lit(1)).alias("custdist")),
                   ["c_count"])


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: the percentage of one month's
    revenue from one part type, via conditional aggregation over a single
    broadcast part join (no second scan for the denominator)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.where((F.col("l_shipdate") >= F.lit("1997-09-01")) &
                 (F.col("l_shipdate") < F.lit("1997-10-01"))) \
          .join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return j.agg(
        stable_round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6)
        .alias("promo_pct"),
        stable_round(F.sum(rev), 2).alias("total_rev"))


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier counts per part descriptor: distinct
    suppliers that shipped each (brand, type, size) group, excluding
    negative-balance suppliers (NOT IN decorrelated to a broadcast
    anti-join), using lineitem as the part↔supplier bridge (the synthetic
    schema has no partsupp table)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = (li.select("l_partkey", "l_suppkey").dropDuplicates()
            .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(part.where(F.col("p_size") <= 25)),
                  F.col("l_partkey") == part.p_partkey))
    agg = ps.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt"))
    return sort_by(agg, ["supplier_cnt", "p_brand", "p_type", "p_size"],
                   ascending=[False, True, True, True])


def q_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: orders whose total
    lineitem quantity exceeds a threshold (IN-subquery-with-HAVING
    decorrelated to an aggregate + join), joined back to the customer.
    The per-order aggregate reuses the orderkey shuffle for the join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty")) \
            .where(F.col("total_qty") > 200)
    j = (orders.join(big, orders.o_orderkey == big.l_orderkey)
               .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    return j.select("c_name", "c_custkey", "o_orderkey",
                    F.col("o_orderdate"), "o_totalprice",
                    stable_round(F.col("total_qty"), 2).alias("total_qty"))


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global sales opportunity: customers with
    above-average positive balance and NO recent orders (scalar subquery
    broadcast as a 1-row cross join + NOT EXISTS as a left-anti join),
    counted per nation."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0) \
                  .agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")) \
                   .select("o_custkey")
    rich = cust.crossJoin(F.broadcast(avg_bal)) \
               .where(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return sort_by(idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        stable_round(F.sum("c_acctbal"), 2).alias("totacctbal")),
        ["c_nationkey"])


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample of the corpus by multiplicative id hash —
    reproducible across runs/partitionings/engines (the oracle states the
    identical integer expression), map-only at any scale."""
    from bda_spadochrony_spark.operators.sampling import hash_sample
    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2).select("doc_id", "lang", "source")


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass ANALYZE-style numeric profile of lineitem (n, nulls,
    exact NDV, min/max/avg per column) — 6·k aggregates in one scan,
    unpivoted to one row per column."""
    from bda_spadochrony_spark.operators.aggregates import profile_columns
    li = _t(spark, sf_dir, "lineitem")
    out = profile_columns(li, ["l_quantity", "l_extendedprice",
                               "l_discount", "l_tax"])
    return out.select("column", "n_rows", "n_null", "n_distinct",
                      stable_round(F.col("min_value"), 4).alias("min_value"),
                      stable_round(F.col("max_value"), 4).alias("max_value"),
                      stable_round(F.col("avg_value"), 4).alias("avg_value"))


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced subsample: exactly 20 documents per language,
    chosen by deterministic (hash, id) rank within each class — the
    rebalancing cap for skewed training data."""
    from bda_spadochrony_spark.operators.sampling import balanced_sample
    docs = _t(spark, sf_dir, "documents")
    out = balanced_sample(docs, "doc_id", "lang", n_per_class=20)
    return out.select("doc_id", "lang")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: downsample English to 10%, keep
    half of everything else — the language-rebalancing step of a corpus
    pipeline, still map-only (the stratum picks a threshold, not a
    shuffle)."""
    from bda_spadochrony_spark.operators.sampling import stratified_hash_sample
    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(docs, "doc_id", "lang",
                                 {"en": 0.1}, default_fraction=0.5)
    return group_agg(out, ["lang"], [
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc")])


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip non-letter/digit,
    collapse whitespace) + per-doc token counts — the first stage of every
    dedup/filter pipeline, pure codegen regex."""
    from bda_spadochrony_spark.operators.text import normalize_text
    docs = _t(spark, sf_dir, "documents")
    norm = normalize_text("text")
    return docs.select(
        "doc_id", norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
        F.length(norm).alias("n_chars_norm"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 50, stride 40) — the
    context-window prep stage; one row per (doc, chunk) with the chunk
    text and its token count, generated JVM-side with zero shuffle."""
    from bda_spadochrony_spark.operators.text import chunk_documents
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", size=50, stride=40)


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-preparation pipeline: normalize → token-bound
    filter → exact dedup on the normalized content (keep lowest doc_id,
    grouped on a 64-bit digest so the shuffle never carries raw text) →
    per-language corpus stats. The end-to-end shape of an LLM data-prep
    job; every stage is an engine operator."""
    from bda_spadochrony_spark.operators.text import normalize_text
    from bda_spadochrony_spark.operators.windows import ranked
    docs = _t(spark, sf_dir, "documents")
    norm = docs.select("doc_id", "lang", normalize_text("text").alias("ntext"))
    feat = norm.withColumn("n_tokens", F.size(F.split("ntext", " ")))
    kept = feat.where((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000))
    # dedup: partition on the content digest (8-byte shuffle key), keep the
    # lowest doc_id; digest grouping ≡ content grouping absent collisions
    first = ranked(kept.withColumn("__h", F.xxhash64("ntext")),
                   ["__h"], [F.col("doc_id").asc()], "rn") \
        .where(F.col("rn") == 1)
    return group_agg(first, ["lang"], [
        F.count(F.lit(1)).alias("n_docs"),
        stable_round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.sum("n_tokens").alias("total_tokens")])


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus pipeline as ONE lazy Spark plan
    (VERDICT r6 stretch #8) — normalize → quality gate → exact dedup →
    benchmark decontamination → mixture rebalance → shuffled-epoch
    sequence packing, composed from the engine's stage operators with NO
    driver round-trips between stages (no collect/count anywhere; one
    action executes the whole pipeline):

      1. ``normalize_text``: canonical lower/strip/collapse.
      2. ``quality_gate`` ON THE NORMALIZED TEXT (default thresholds):
         keep only verdict-ok documents.
      3. Exact dedup: keep the lowest doc_id per normalized content —
         windowed on the xxhash64 digest so the shuffle key is 8 bytes,
         like ``corpus_prep`` (digest ≡ content grouping absent
         collisions; the oracle groups on the text itself).
      4. Decontamination: drop documents whose 3-gram overlap with the
         benchmark carve-out (doc_id % 97 == 0, excluded from the corpus
         side) exceeds 0.05.
      5. ``mixture_sample``: rebalance language shares to the standard
         en-heavy pretraining mix with deterministic (hash, id) ranks.
      6. ``pack_documents(order_col=hash_bucket(id))``: concatenate-and-
         cut 512-token windows in SHUFFLED epoch order — the training-
         order shuffle and the packing layout fold into one window pass.

    The two frames consumed by multiple stages (the normalized corpus;
    the mixture survivors) are lazily checkpointed — exactly the frames
    a production pipeline would materialize between stages — so lineage
    does not re-run upstream stages per consumer. Every stage is
    deterministic and engine-portable → the whole composite is value-
    oracled end-to-end (the integration proof that the stage oracles
    compose).

    Implementation: ``plans/pipelines.corpus_pipeline`` with the default
    FIXED thresholds (the oracle restates them); production runs the
    same function with ``calibrate_surprisal=True`` so the gate band
    tracks the corpus (the 10× Zipfian measurement, BENCH_SF1)."""
    from bda_spadochrony_spark.plans.pipelines import corpus_pipeline
    return corpus_pipeline(_t(spark, sf_dir, "documents"))


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus rebalancing (XLM-R/mT5's multilingual
    rule): target shares DERIVED from the corpus's own language counts,
    share_g ∝ count_g^0.5 — T=0.5 upweights tail languages toward
    uniform — then ``mixture_sample``'s exact deterministic quotas.

    Oracle exactness: raw temperature shares are irrational
    (sqrt-derived), so the feasibility boundary floor(T·w) could sit a
    float ulp apart across engines. The contract therefore SNAPS shares
    to the 2^-20 binary grid (floor(x·2^20 + 0.5)/2^20 — floor, not
    round, dodging the engines' half-rule divergence) before the quota
    arithmetic; both engines compute the identical grid value, so the
    floor() boundary is bit-exact, per mixture_sample's documented
    binary-exact-shares contract."""
    from bda_spadochrony_spark.operators.sampling import (mixture_sample,
                                                          temperature_targets)
    import math
    docs = _t(spark, sf_dir, "documents")
    raw = temperature_targets(docs, "lang", temperature=0.5)
    snap = {g: math.floor(w * 2 ** 20 + 0.5) / 2 ** 20
            for g, w in raw.items()}
    out = mixture_sample(docs, "doc_id", "lang", snap)
    return out.select("doc_id", "lang")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication under the value oracle:
    deterministic-subset centers (the cells_for(n) smallest valid
    vec_ids — the ivf_portable convention), nearest-center assignment,
    WITHIN-cluster cosine pairs at the 0.42 family threshold
    (embedding_near_dup's), connected components, min-id survivor per
    family. Returns every survivor with its cluster cell — the frame
    the cluster-bounded dedup writes back out. Cross-cluster recall
    trade is the operator's documented property.

    Cell count is CORPUS-SIZED since round 8 (``n_clusters=None`` →
    ``cells_for(count)``, the sqrt-rule sibling of ``planes_for`` —
    VERDICT r7 #1): at the oracle contract scale (500 vectors) the rule
    yields the previously-pinned 16 cells, so parity values are
    unchanged; at 100× the cell count grows with sqrt(n) and within-
    cell pair volume stays Θ(n^1.5) instead of n²/16. The oracle
    generator derives the identical count from the parquet footer
    (``_oracle_embedding_count``, the planes_for pattern).
    Runs under 8 shuffle partitions like q_dedup_survivors: the pair
    set and every CC-round frame are candidate-sized, so 32-partition
    shuffles are empty-task churn across the contraction loop's jobs."""
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        emb = _t(spark, sf_dir, "embeddings")
        out = semantic_dedup(emb, "vec_id", min_cosine=0.42)
        return out.select("vec_id",
                          F.col("cell").cast("long").alias("cell"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_semantic_dedup_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-cell-probed semantic dedup (r9 — VERDICT r8 #4): the same
    SemDeDup pipeline as ``semantic_dedup`` but each vector joins pair
    GENERATION in its 2 nearest cells (``n_probe=2``), closing the
    documented cross-boundary recall trade the way ``ivf_topk``'s
    ``n_probe`` does. Dedup semantics are unchanged — one survivor per
    connected family, and the reported cell is each survivor's PRIMARY
    (nearest) cell. The oracle restates the probed assignment as a
    ``row_number() <= 2`` over (dist2, cell) and deduplicates the pair
    set found in ANY shared probe cell; the quantizer cell count is the
    same footer-derived ``cells_for(n)`` as the base query. Same sp=8
    discipline (candidate-sized shuffles through iterative CC)."""
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    configure(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        emb = _t(spark, sf_dir, "embeddings")
        out = semantic_dedup(emb, "vec_id", min_cosine=0.42, n_probe=2)
        return out.select("vec_id",
                          F.col("cell").cast("long").alias("cell"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL API surface: temp views + ``spark.sql`` running a
    multi-feature statement (CTE, join, window, aggregate) — proves a
    reference user can drive this engine with plain SQL, not just the
    DataFrame API. Catalyst plans it identically to the DataFrame form
    (broadcast dim, pushed filters)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        WITH rev AS (
            SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS o_year,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey, year(o_orderdate)
        )
        SELECT o_year, o_custkey, revenue, rk
        FROM (SELECT o_year, o_custkey,
                     round(revenue + 1e-06, 2) AS revenue,
                     row_number() OVER (PARTITION BY o_year
                                        ORDER BY round(revenue + 1e-06, 2)
                                                 DESC,
                                                 o_custkey ASC) AS rk
              FROM rev)
        WHERE rk <= 5
    """)


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term scoring: per-document term frequency × inverse document
    frequency, top-3 terms per document — the inverted-index scoring stage
    of corpus search/relevance pipelines. The document-frequency aggregate
    and the per-doc TF reuse one exploded token frame; N arrives as a
    broadcast 1-row cross join, never a collect."""
    from bda_spadochrony_spark.operators.text import tokens
    from bda_spadochrony_spark.operators.windows import ranked
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(dfreq, "token")
                .crossJoin(F.broadcast(n))
                .withColumn("tfidf", stable_round(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)))
    # rank on the ROUNDED score (then token) so cross-engine ln() ulp noise
    # can't reorder near-equal terms
    top = ranked(scored, ["doc_id"],
                 [F.col("tfidf").desc(), F.col("token").asc()], "rk")
    return top.where(F.col("rk") <= 3).select(
        "doc_id", "token", "tf", "df", "tfidf", "rk")


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T4 sliding flavor — streaming event-time aggregate over 1-hour
    windows sliding every 30 minutes (each event lands in exactly 2
    windows), run to completion in append mode. Append only emits windows
    sealed by the final watermark (max ts − 1 min), so BOTH engines keep
    windows with end ≤ max(ts) − 2 min."""
    import datetime
    from bda_spadochrony_spark.streaming.sources import file_stream
    from bda_spadochrony_spark.streaming.ops import windowed_agg
    from bda_spadochrony_spark.streaming.runner import run_available_now
    configure(spark)
    mx = _t(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    if mx is None:
        # empty input: no window ever seals — deterministic empty output
        # instead of a NoneType crash (r9 zero-row edge fixture)
        return (_t(spark, sf_dir, "events").where(F.lit(False))
                .select(F.col("ts").alias("window_start"), "event_type",
                        F.lit(None).cast("long").alias("cnt"),
                        F.lit(None).cast("double").alias("sum_value")))
    cutoff = mx - datetime.timedelta(minutes=2)
    # state-sized shuffle partitions (see q_stream_join_outer)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = file_stream(spark, f"{sf_dir}/events*.parquet", EVENTS_SCHEMA)
        agg = windowed_agg(stream, "ts", "1 hour", keys=["event_type"],
                           measures=[F.count(F.lit(1)).alias("cnt"),
                                     stable_round(F.sum("value"), 2).alias("sum_value")],
                           delay="1 minutes", slide="30 minutes")
        out = run_available_now(spark, agg, timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.where(F.col("window_end") <= F.lit(cutoff)) \
              .select("window_start", "event_type", "cnt", "sum_value")


def q_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned lake layout + partition pruning: events written once as
    a date-partitioned parquet table (the layout a 100 TB feed lands in),
    then aggregated for 3 selected partitions — the scan reads ONLY those
    date directories (partition pruning; the join-driven dynamic flavor is
    asserted from the plan in tests/test_skew.py)."""
    import datetime
    import os
    import shutil
    import tempfile
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    # lake dir keyed by the SOURCE file's identity (mtime+size), so
    # regenerated testdata can never serve a stale lake; promotion is an
    # atomic rename, so two concurrent first-writers can't interleave —
    # the loser's staging dir is simply discarded
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    lake = os.path.join(
        tempfile.gettempdir(),
        "bda_lake_%s_%d_%d" % (sf_dir.strip("/").replace("/", "_"),
                               int(st.st_mtime), st.st_size))
    lake_df = ev.drop("date").withColumn("date", F.to_date("ts"))
    if not os.path.exists(lake):
        from bda_spadochrony_spark.sources.writers import write_parquet
        staging = tempfile.mkdtemp(prefix="bda_lake_stage_")
        write_parquet(lake_df, staging, partition_by=["date"])
        try:
            os.rename(staging, lake)
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)  # another writer won
    # explicit schema: a zero-row feed day writes a lake with no part
    # files, and schema INFERENCE on it fails — the declared schema is
    # what lets downstream scans survive an empty partition day (r9
    # zero-row edge fixture); on non-empty lakes it also skips a footer
    # read
    part = spark.read.schema(lake_df.schema).parquet(lake)
    dates = [datetime.date(2024, 1, 3), datetime.date(2024, 1, 5),
             datetime.date(2024, 1, 7)]
    sel = part.where(F.col("date").isin(dates))
    return group_agg(sel, ["date"], [
        F.count(F.lit(1)).alias("cnt"),
        stable_round(F.avg("value"), 2).alias("avg_value")])


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.42) via the distributed
    block matmul — every unordered bucket pair scored exactly once, exact
    results, no driver round-trip."""
    from bda_spadochrony_spark.operators.similarity import pairwise_cosine_blocked
    emb = _t(spark, sf_dir, "embeddings")
    out = pairwise_cosine_blocked(emb, "vec_id", min_cosine=0.42, blocks=4)
    return out.select("id_a", "id_b",
                      stable_round(F.col("cosine"), 6).alias("cosine"))


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (absent from the reference): sample
    stddev/variance, Pearson correlation, and sample covariance per group —
    one hash aggregate, all JVM-side.

    Correlation is computed as covar_samp/(sd·sd) under an explicit
    zero-variance guard rather than F.corr: under ANSI mode a single
    DEGENERATE group (constant value — one row, or a filled default)
    makes built-in corr throw DIVIDE_BY_ZERO and kill the whole job
    (found by the r6 pathological-events fixture); the guarded form
    returns NULL for that group, which is also what the SQL oracle's
    corr() yields — one bad group must never abort a 100 TB aggregate.

    Non-finite pin (r7 edge program): NaN/±Inf measures are nulled
    before every moment aggregate — a single Inf row ABORTS DuckDB's
    stddev_samp ("out of range") and NaN-poisons Spark's, i.e. the
    engines diverge AND both lose the group. Same moment-guard rule as
    ml/stats.covariance_matrix's finite_vectors."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("uid_d", F.col("user_id").cast("double"))
    ev = ev.withColumn("value", F.when(
        ~F.isnan("value") & (F.abs("value") != F.lit(float("inf"))),
        F.col("value")))
    # pairwise-complete marginals: corr skips a ROW when either side is
    # NULL, so its stddevs must too (a plain stddev_samp("value") counts
    # rows whose uid is NULL and skews the ratio)
    both = F.col("value").isNotNull() & F.col("uid_d").isNotNull()
    vp = F.when(both, F.col("value"))
    up = F.when(both, F.col("uid_d"))
    sd_v, sd_u = F.stddev_samp(vp), F.stddev_samp(up)
    corr_guarded = F.when((sd_v > 0) & (sd_u > 0),
                          F.covar_samp(vp, up) / (sd_v * sd_u))
    return ev.groupBy("event_type").agg(
        stable_round(F.stddev_samp("value"), 4).alias("sd_value"),
        stable_round(F.var_samp("value"), 4).alias("var_value"),
        stable_round(corr_guarded, 6).alias("corr_vu"),
        stable_round(F.covar_samp("value", "uid_d"), 4).alias("covar_vu"))


def q_argmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector aggregates: max_by/min_by (the row-value at the extremum)
    and count_if — DuckDB's arg_max/arg_min/count_if twins. The (value,
    event_id) struct pair makes the selector deterministic under value
    ties."""
    ev = _t(spark, sf_dir, "events")
    pair = F.struct(F.col("value"), F.col("event_id"))
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", pair).alias("id_at_max"),
        F.min_by("event_id", pair).alias("id_at_min"),
        F.count_if(F.col("value") > 50.0).alias("n_hi"),
        F.count(F.lit(1)).alias("n_rows"))


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning — floor(value/10) buckets with count
    and rounded mass share; the group-by formulation distributes (one hash
    aggregate), unlike driver-side histogramming.

    Non-finite pin (r7 edge program): NaN/±Inf rows are EXCLUDED — the
    bin cast errors in BOTH engines (Spark ANSI and DuckDB both refuse
    CAST(NaN/Inf AS INT)), i.e. one corrupt row kills the job, and a
    fixed-width bin index for Inf is meaningless anyway. The share
    denominator counts the same finite domain."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("value").isNotNull() & ~F.isnan("value")
                 & (F.abs("value") != F.lit(float("inf")))))
    total = ev.count()
    binned = ev.groupBy(F.floor(F.col("value") / 10).cast("int").alias("bin")) \
               .agg(F.count(F.lit(1)).alias("cnt"))
    return binned.select(
        "bin", "cnt",
        stable_round(F.col("cnt") / F.lit(float(total)), 6).alias("share"))


def q_regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (absent from the reference): per-group
    OLS slope/intercept/R² of value against hour-of-day — one hash
    aggregate, JVM-side, ANSI-standard regr_* semantics on both engines."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("hod", F.hour("ts").cast("double"))
    return ev.groupBy("event_type").agg(
        stable_round(F.regr_slope("value", "hod"), 6).alias("slope"),
        stable_round(F.regr_intercept("value", "hod"), 4).alias("intercept"),
        stable_round(F.regr_r2("value", "hod"), 6).alias("r2"),
        F.regr_count("value", "hod").alias("n"))


def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation family: per-user distinct event types collected,
    sorted, and serialized (string form keeps the cross-engine value hash
    type-stable), plus the distinct count."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types"),
        F.countDistinct("event_type").alias("n_types"))


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended calendar family: last_day, quarter, dayofyear, ISO
    weekofyear, day arithmetic, and Monday-start week truncation."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.last_day("ts").alias("month_end"),
        F.quarter("ts").cast("int").alias("qtr"),
        F.dayofyear("ts").cast("int").alias("doy"),
        F.weekofyear("ts").cast("int").alias("woy"),
        F.date_add(F.to_date("ts"), 7).alias("plus_week"),
        F.date_trunc("week", "ts").alias("week_start"))


def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family: edit distance, delimited-field extraction,
    reverse, substring position, repetition."""
    ev = _t(spark, sf_dir, "events")
    combo = F.concat_ws("|", "event_type", F.col("user_id").cast("string"))
    return ev.select(
        "event_id",
        F.levenshtein("event_type", F.lit("click")).alias("lev_click"),
        F.split_part(combo, F.lit("|"), F.lit(2)).alias("uid_field"),
        F.reverse("event_type").alias("et_rev"),
        F.instr("event_type", "e").cast("int").alias("pos_e"),
        F.repeat(F.substring("event_type", 1, 1), 3).alias("tripled"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: pairwise embedding matches (cosine ≥ 0.42)
    resolved into connected components, one canonical (minimum) id per
    member — the keep/drop decision step of a dedup pipeline. Oracle =
    DuckDB recursive-CTE reachability over the same pair set."""
    from bda_spadochrony_spark.operators.dedup import dedup_clusters
    from bda_spadochrony_spark.operators.similarity import pairwise_cosine_blocked
    emb = _t(spark, sf_dir, "embeddings")
    pairs = pairwise_cosine_blocked(emb, "vec_id", min_cosine=0.42, blocks=4)
    return dedup_clusters(pairs).select(F.col("id").alias("vec_id"),
                                        "canonical_id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the hard oracle: documents encoded to
    binary payloads, features extracted through the Arrow-batched
    ``mapInPandas`` image path (deterministic fake decode — no codec libs
    in this container). The oracle recomputes the byte-length-derived
    fields, so the binary column handling, the Arrow round-trip, and the
    batch protocol are all value-checked."""
    from bda_spadochrony_spark.operators import multimodal as M
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/fake").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"))
    out = M.extract_image_features(media, fake=True)
    return out.select("media_id", "width", "height", "n_bytes")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing under the hard oracle (r8): a video
    media frame built from documents (``duration_ms`` = n_chars — the
    typed-metadata path), sampled every 700 ms through
    ``sample_video_frames``'s metadata-driven mode. The oracle restates
    the explode: one row per sampled timestamp, NULL durations dropped
    (NULL sequence → explode emits nothing), zero-length videos keep
    exactly their t=0 frame. The REAL decode branch (vendored
    uncompressed-AVI + netpbm-stream, r8) is pytest-covered —
    ``test_multimodal_real_video_frames`` — because binary container
    parsing is not SQL-restatable."""
    from bda_spadochrony_spark.operators import multimodal as M
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/fake").alias("mime"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("n_chars").cast("int").alias("duration_ms"))
    out = M.sample_video_frames(media, every_ms=700, fake=True)
    return out.select("media_id",
                      F.col("frame_ms").cast("long").alias("frame_ms"),
                      "frame_key")


def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` ≡ IS NOT DISTINCT FROM): two
    derived frames with injected NULL keys joined so NULL matches NULL
    exactly once per side-pair — semantics a plain equi join silently
    drops. Aggregated so the NULL-bucket match count is observable."""
    ev = _t(spark, sf_dir, "events")
    # floor() before the int cast: Spark's double→int cast truncates while
    # DuckDB's ROUNDS — floor makes both engines agree
    key = F.when(F.col("value") < 10, None) \
           .otherwise(F.floor(F.col("value") / 10).cast("int"))
    a = ev.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("n_a"))
    b = ev.groupBy(key.alias("k")).agg(
        stable_round(F.avg("value"), 2).alias("avg_b"))
    j = a.join(b, a["k"].eqNullSafe(b["k"]))
    return j.select(a["k"].alias("k"), "n_a", "avg_b")


def q_salted_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew machinery under the hard gate: the hourly aggregate computed
    as a two-phase SALTED aggregation (hot keys fan out over 16 salt
    buckets, partials merged on the true keys) — must equal the plain
    single-phase result, so it shares the plain SQL oracle shape."""
    from bda_spadochrony_spark.operators.skew import salted_agg
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    out = salted_agg(
        ev, ["date", "hour"],
        measures=[F.count(F.lit(1)).alias("c"),
                  F.sum("value").alias("s"),
                  F.count("value").alias("nv")],
        final_measures=[F.sum("c").alias("cnt"),
                        stable_round(F.sum("s") / F.sum("nv"), 2).alias("avg_value")])
    return sort_by(out, ["date", "hour"])


def _roundtrip_cache_dir(fmt: str, sf_dir: str, write_fn,
                         src_name: str = "events.parquet") -> str:
    """Per-(user, sf_dir, source-mtime/size) cache dir for derived
    artifacts (format round-trip exports, the persisted IVF-PQ
    quantizer). The name is scoped by uid (r11 ADVICE: a shared
    /tmp name could collide with another user's leftover — unreadable or
    worse, silently scanned), the export is staged then atomically
    renamed (concurrent callers race benignly — first rename wins), and
    a LOST race is verified: if the rename failed but the target does
    not exist/read afterwards, we raise instead of scanning garbage.
    The mtime/size key means a regenerated source table invalidates the
    cache — the 'refit on drift' contract for fitted artifacts."""
    import os
    import shutil
    import tempfile
    src = os.path.join(sf_dir, src_name)
    st = os.stat(src)
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "bda_%s_u%s_%s_%d_%d" % (fmt, getattr(os, "getuid", lambda: 0)(),
                                 sf_dir.strip("/").replace("/", "_"),
                                 int(st.st_mtime), st.st_size))
    if not os.path.exists(out_dir):
        staging = tempfile.mkdtemp(prefix="bda_%s_stage_" % fmt)
        write_fn(staging)
        try:
            os.rename(staging, out_dir)
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
            if not (os.path.isdir(out_dir) and os.listdir(out_dir)):
                raise RuntimeError(
                    "%s round-trip cache rename failed and %s is missing "
                    "or empty" % (fmt, out_dir))
    return out_dir


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-parquet source format under the oracle: events exported once to
    CSV (timestamps as ISO strings), read back through the engine's
    typed CSV scan, and aggregated — the result must equal the same
    aggregate over the original parquet. Exercises the fmt="csv" reader
    path, header handling, and type-at-scan parsing.

    Fidelity options (r11 — the format-fidelity edge fixture found both
    classics): ``nullValue="\\N"`` on write AND read keeps NULL distinct
    from '' (Spark's default reader maps quoted-empty back to NULL —
    pinned in test_csv_null_vs_empty_string_roundtrip_boundary; \\N is
    the MySQL/Hive sentinel, with the documented boundary that a LITERAL
    "\\N" string value round-trips to NULL), and ``multiLine`` on read
    re-assembles quoted embedded newlines (without it a field containing
    a newline splits into a phantom half-row — the fixture caught the
    NULL-group count inflating). multiLine costs CSV split-parallelism
    (files parse whole), which is the standard trade for correctness;
    the 100 TB hot path is parquet, CSV is the ingest edge. The
    ignore*WhiteSpace options are off on BOTH sides: Spark's writer
    default TRIMS unquoted whitespace-only fields (the fixture's third
    find — ' ' silently became '')."""
    ev = _t(spark, sf_dir, "events")
    csv_dir = _roundtrip_cache_dir(
        "csv", sf_dir,
        lambda staging: ev.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id", "event_type", "value")
        .write.mode("overwrite").option("header", True)
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False).csv(staging))
    schema = StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    back = scan(spark, csv_dir, schema=schema, fmt="csv",
                options={"header": "true", "multiLine": "true",
                         "nullValue": "\\N",
                         "ignoreLeadingWhiteSpace": "false",
                         "ignoreTrailingWhiteSpace": "false"})
    agg = group_agg(with_date_hour(back, "ts"), ["date", "hour"], [
        F.count(F.lit(1)).alias("cnt"),
        stable_round(F.avg("value"), 2).alias("avg_value")])
    return sort_by(agg, ["date", "hour"])


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON LINES source format under the oracle (r11 — the fourth
    format path after CSV/JSON-payload/ORC): events exported once to
    newline-delimited JSON, read back through the typed scan, and
    aggregated per (date, hour) with a value histogram band; the result
    must equal the same aggregate over the original parquet. JSON's
    fidelity profile differs from CSV's: NULL fields are OMITTED (no
    sentinel needed — absent key reads back NULL, and '' is a quoted
    empty string, so the NULL/'' distinction is free), timestamps ride
    the same explicit format both ways, and non-finite doubles are the
    documented boundary (JSON has no NaN/Inf literal; Spark emits bare
    tokens its own reader accepts but the spec forbids — the events
    table carries none, and the edge fixture pins the behavior)."""
    ev = _t(spark, sf_dir, "events")
    json_dir = _roundtrip_cache_dir(
        "json", sf_dir,
        lambda staging: ev.select("event_id", "ts", "user_id",
                                  "event_type", "value")
        .write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(staging))
    schema = StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    back = scan(spark, json_dir, schema=schema, fmt="json",
                options={"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"})
    agg = group_agg(with_date_hour(back, "ts"), ["date", "hour"], [
        F.count(F.lit(1)).alias("cnt"),
        F.count("user_id").alias("n_users"),
        stable_round(F.sum("value"), 2).alias("sum_value")])
    return sort_by(agg, ["date", "hour"])


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source format under the oracle (r10 — the third non-parquet
    path after CSV/JSON): events exported once to ORC with native types
    (no string staging — ORC carries timestamps directly), read back
    through the typed scan, and aggregated per event type; the result
    must equal the same aggregate over the original parquet. Exercises
    fmt="orc" end to end (write, typed read, predicate-friendly
    columnar layout — the lake format a reference user might already
    have on disk)."""
    ev = _t(spark, sf_dir, "events")
    orc_dir = _roundtrip_cache_dir(
        "orc", sf_dir,
        lambda staging: ev.select("event_id", "ts", "user_id",
                                  "event_type", "value")
        .write.mode("overwrite").orc(staging))
    back = scan(spark, orc_dir, fmt="orc")
    agg = group_agg(back.where(F.col("event_type").isNotNull()),
                    ["event_type"], [
        F.count(F.lit(1)).alias("cnt"),
        F.count("value").alias("n_vals"),
        stable_round(F.avg("value"), 2).alias("avg_value"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event")])
    return sort_by(agg, ["event_type"])


def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling scalar family: nullif, ifnull fallback,
    greatest/least across columns, boolean case."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("et_or_null"),
        F.ifnull(F.nullif(F.col("event_type"), F.lit("error")),
                 F.lit("suppressed")).alias("et_fallback"),
        F.greatest(F.col("value"), F.lit(50.0)).alias("floor50"),
        F.least(F.col("value"), F.lit(50.0)).alias("cap50"),
        F.when(F.col("value") >= 50, F.lit("hi")).otherwise(F.lit("lo")).alias("band"))


def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family over the id columns: and/or/xor/shifts."""
    ev = _t(spark, sf_dir, "events")
    a, b = F.col("event_id"), F.col("user_id")
    return ev.select(
        "event_id",
        (a.bitwiseAND(b)).alias("b_and"),
        (a.bitwiseOR(b)).alias("b_or"),
        (a.bitwiseXOR(b)).alias("b_xor"),
        F.shiftleft(b, 2).alias("b_shl"),
        F.shiftright(a, 1).alias("b_shr"))


def q_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest family — content addressing for dedup/lineage:
    md5 and sha-256 hex digests of document text (cross-engine exact)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): per-date event counts, one column per event type
    (explicit value list → deterministic schema, single-shuffle plan)."""
    ev = with_date_hour(_t(spark, sf_dir, "events"), "ts")
    piv = (ev.groupBy("date")
             .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
             .agg(F.count(F.lit(1))))
    return piv.select("date", *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}")
                                for c in ["click", "view", "purchase", "signup", "error"]])


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order ARRAY-function family — the lambda surface
    (transform / filter / exists / forall / aggregate / zip_with) plus
    slice / array_sort / reverse / get — folded over the embedding
    column and pinned against DuckDB's list_* functions. Entry guard:
    NULL arrays and NULL/NaN/Inf elements are dropped (the cosine
    family's junk rule) and a max|x| < 1e2 moment bound keeps the
    mixed-sign dot_rev fold's reorder error below the 4-decimal round
    FROM THE BOUND ALONE (r12 ADVICE: the previous 1e6 bound admitted
    64 terms of magnitude up to 1e12 — worst-case reorder error ~1e-1,
    larger than the grid; at 1e2 the worst case is ~1e-9, so the claim
    holds for any fixture, not just the unit-scale embeddings).
    Elements are cast to DOUBLE before any arithmetic
    (similarity.valid_vectors' float32-square overflow rule). All
    map-only: one scan, zero exchanges."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    junk = F.exists(v, lambda x: x.isNull() | F.isnan(x)
                    | (F.abs(x) == F.lit(float("inf"))))
    base = (emb.where(v.isNotNull() & ~junk)
               .select("vec_id", v.cast("array<double>").alias("e"))
               .where(F.array_max(F.transform(F.col("e"),
                                              lambda x: F.abs(x)))
                      < F.lit(1e2)))
    e = F.col("e")
    return base.select(
        "vec_id",
        stable_round(F.sqrt(F.aggregate(e, F.lit(0.0),
                                        lambda a, x: a + x * x)), 4)
        .alias("l2_norm"),
        F.size(F.filter(e, lambda x: x > 0)).cast("int").alias("n_pos"),
        stable_round(F.array_max(F.transform(e, lambda x: F.abs(x))), 4)
        .alias("max_abs"),
        F.exists(e, lambda x: x > F.lit(0.5)).alias("any_gt_half"),
        F.forall(e, lambda x: x < F.lit(10.0)).alias("all_lt10"),
        stable_round(F.aggregate(F.slice(e, 1, 3), F.lit(0.0),
                                 lambda a, x: a + x), 4)
        .alias("head3_sum"),
        stable_round(F.get(F.array_sort(e), 0), 4).alias("min_val"),
        stable_round(F.aggregate(F.zip_with(e, F.reverse(e),
                                            lambda a, b: a * b),
                                 F.lit(0.0), lambda a, x: a + x), 4)
        .alias("dot_rev"))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS VERSIONING DIFF (r11): two corpus versions derived
    deterministically from the documents table — the OLD snapshot drops
    ids ≡ 7 (mod 10) and the NEW version drops ids ≡ 2 (mod 10) and
    rewrites ids ≡ 5 (mod 10) (text + a marker suffix) — then
    `dedup.corpus_diff` classifies every id added / removed / changed /
    unchanged by md5 digest under a full-outer id join. Text never
    shuffles (each side reduces to (id, digest) map-side); the output
    is the per-status census plus the exact changed/added/removed id
    bounds as a value check."""
    from bda_spadochrony_spark.operators.dedup import corpus_diff
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 7)
    new = (docs.where(F.col("doc_id") % 10 != 2)
           .select("doc_id",
                   F.when(F.col("doc_id") % 10 == 5,
                          F.concat(F.col("text"), F.lit(" [rev2]")))
                   .otherwise(F.col("text")).alias("text")))
    d = corpus_diff(old, new, "doc_id", "text")
    return (d.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — important stock identification, the last-but-one
    missing TPC-H silhouette (r11 completes all 22): per-part value
    concentrated through ONE nation's suppliers, kept only where the
    part's value exceeds a FRACTION OF THE GLOBAL TOTAL — the
    global-scalar-aggregate-as-HAVING-bound pattern (Q11's signature),
    planned as a broadcast of the one-row total crossed back into the
    per-part frame. Adapted to this schema (no partsupp table, the
    SURVEY §1.4 substitution rule): value = discounted lineitem revenue
    through NATION_1's suppliers; fraction 0.001."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    base = (li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
              .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
              .where(F.col("n_name") == "NATION_1")
              .select("l_partkey",
                      (F.col("l_extendedprice")
                       * (1 - F.col("l_discount"))).alias("val")))
    per = base.groupBy("l_partkey").agg(F.sum("val").alias("raw_value"))
    total = per.agg(F.sum("raw_value").alias("total_value"))
    # the membership predicate compares BIAS-STABILIZED values on both
    # engines (r12 ADVICE): the raw sums differ in ulps between Spark's
    # partial-aggregate order and DuckDB's, so a part sitting within ulps
    # of the threshold could flip set membership — rounding both sides of
    # the > to the same 2-decimal grid (the stable_round rule the output
    # column already gets) pins the set itself
    return (per.join(F.broadcast(total), F.lit(True))
            .where(stable_round(F.col("raw_value"), 2)
                   > stable_round(F.lit(0.001) * F.col("total_value"), 2))
            .select("l_partkey",
                    stable_round(F.col("raw_value"), 2).alias("value")))


def q_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — potential part promotion, the last missing
    TPC-H silhouette (r11 completes all 22): suppliers who shipped MORE
    THAN HALF of a part's total 1996 volume — Q20's correlated
    half-of-sum subquery (availqty > 0.5 × the part/supplier's shipped
    quantity), adapted to this schema (no partsupp) as the
    per-(part, supplier) share against the part's total, then resolved
    to supplier names through the broadcast dim. Two aggregations over
    ONE scan lineage + an equi-join on the part key."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    y = li.where(F.year("l_shipdate") == 1996) \
          .select("l_partkey", "l_suppkey", "l_quantity")
    per_ps = y.groupBy("l_partkey", "l_suppkey") \
              .agg(F.sum("l_quantity").alias("supp_qty"))
    per_p = y.groupBy("l_partkey").agg(F.sum("l_quantity").alias("part_qty"))
    cand = (per_ps.join(per_p, "l_partkey")
            .where(F.col("supp_qty") > 0.5 * F.col("part_qty")))
    return (cand.join(F.broadcast(su),
                      cand.l_suppkey == su.s_suppkey)
            .select("s_name", "l_partkey",
                    stable_round(F.col("supp_qty"), 2).alias("supp_qty"),
                    stable_round(F.col("part_qty"), 2).alias("part_qty")))


def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET sampling per source (r11): each source contributes
    documents in deterministic (hash, id) order until ~2,000 tokens are
    taken — the budget-bounded mixing rule a training-data pipeline
    applies per source/language, where a doc-COUNT cap would over-weight
    verbose sources. One group-keyed shuffle (the running-sum window);
    the kept set is partition-invariant and the oracle restates the
    identical integer hash and window frame."""
    from bda_spadochrony_spark.operators.sampling import budget_sample
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.size(F.split(F.lower(F.trim("text")), r"[\s\x0b]+"))
        .cast("int").alias("n_tokens"))
    out = budget_sample(toks, "doc_id", "source", "n_tokens",
                        budget=2000, cum_col="cum_tokens")
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-function family — create_map / map_filter / transform_values /
    map_keys / map_values / try_element_at / map_contains_key — over a
    map built from the event's measure columns plus its JSON payload
    key. The oracle computes the same scalars directly (a map literal
    keyed by three known names IS three scalars), pinning Spark's map
    NULL semantics: map_filter's lambda drops NULL-valued entries
    (predicate NULL ≠ true), try_element_at on a present key returns
    its value even when NULL, and the map_values fold coalesces NULLs
    into the running sum. Map-only, zero exchanges."""
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("value"), F.col("value"),
        F.lit("uid"), F.col("user_id").cast("double"),
        F.lit("kprop"), F.get_json_object("props", "$.k").cast("double"))
    base = ev.select("event_id", m.alias("m"))
    pos = F.map_filter(F.col("m"), lambda k, v: v.isNotNull() & (v > 0))
    doubled = F.transform_values(F.col("m"), lambda k, v: v * 2.0)
    return base.select(
        "event_id",
        F.size(pos).cast("int").alias("n_pos"),
        F.concat_ws(",", F.array_sort(F.map_keys(pos))).alias("pos_keys"),
        stable_round(F.try_element_at(doubled, F.lit("value")), 4)
        .alias("value_x2"),
        stable_round(F.aggregate(F.map_values(F.col("m")), F.lit(0.0),
                                 lambda a, x: a + F.coalesce(x, F.lit(0.0))),
                     4).alias("sum_vals"),
        F.map_contains_key(pos, "kprop").alias("kprop_pos"))


# Registry order matters: the driver's CORRECTNESS run covers EXACTLY the
# first 50 entries (_WINDOW below; round 4 accidentally placed 51 ahead of
# the marker and `quantiles` silently missed its slot — the split dicts +
# the window-size test make that impossible now). _WINDOW holds this
# round's changed/fixed queries followed by the oldest single-driver-
# confirmation backlog; _TAIL holds long-confirmed queries whose parity is
# continuously re-proven by tests/test_oracle_parity.py.
_WINDOW: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- round-16 window (VERDICT r15 #8 — keep the rotation
    # cadence): FIRST this round's changed queries — the raw-index
    # kernel fusion (stream_ann_index) and the two ivf_topk callers
    # whose assignment/probe stages now share the same kernels
    # (embedding_ivf_portable, embedding_ivf_topk) — then the 47
    # stalest _TAIL heads (the remaining r12 cohort through the r13
    # queue head), so no registry query's latest driver check ages
    # past r13. The displaced r15 window moved whole into _TAIL's end.
    "stream_ann_index": q_stream_ann_index,
    "embedding_ivf_portable": q_embedding_ivf_portable,
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "corpus_shuffle": q_corpus_shuffle,
    "detokenize_bytes": q_detokenize_bytes,
    "disjunctive_revenue": q_disjunctive_revenue,
    "doc_fingerprint_md5": q_doc_fingerprint_md5,
    "embedding_covariance": q_embedding_covariance,
    "embedding_ivf_pq": q_embedding_ivf_pq,
    "embedding_ivf_pq_kmeans": q_embedding_ivf_pq_kmeans,
    "embedding_outliers": q_embedding_outliers,
    "embedding_standardize": q_embedding_standardize,
    "equi_depth_histogram": q_equi_depth_histogram,
    "expectations": q_expectations,
    "hash_funcs": q_hash_funcs,
    "hash_split": q_hash_split,
    "heavy_hitters": q_heavy_hitters,
    "higher_order_funcs": q_higher_order_funcs,
    "histogram": q_histogram,
    "important_stock": q_important_stock,
    "join_cardinality": q_join_cardinality,
    "kmeans_step": q_kmeans_step,
    "map_funcs": q_map_funcs,
    "mixture_sample": q_mixture_sample,
    "ml_linear_fit": q_ml_linear_fit,
    "nation_profit": q_nation_profit,
    "pack_documents": q_pack_documents,
    "pca_invariants": q_pca_invariants,
    "pii_scrub": q_pii_scrub,
    "pricing_summary_decimal": q_pricing_summary_decimal,
    "quality_gate": q_quality_gate,
    "quantizer_drift": q_quantizer_drift,
    "sessionize": q_sessionize,
    "skew_diagnostics": q_skew_diagnostics,
    "source_kl": q_source_kl,
    "stats_agg": q_stats_agg,
    "stream_distinct": q_stream_distinct,
    "stream_enrich": q_stream_enrich,
    "string_funcs2": q_string_funcs2,
    "token_pmi": q_token_pmi,
    "tokenizer_bytes": q_tokenizer_bytes,
    "tokenizer_pipeline": q_tokenizer_pipeline,
    "tokens_to_ids": q_tokens_to_ids,
    "unigram_surprisal": q_unigram_surprisal,
    "zorder_layout": q_zorder_layout,
    "bpe_train_bytes": q_bpe_train_bytes,
    "tokenizer_bytes_trained": q_tokenizer_bytes_trained,
    "pricing_decimal_avg": q_pricing_decimal_avg,
    "bpe_train": q_bpe_train,
    "stream_ann_index_pq": q_stream_ann_index_pq,
}


_TAIL: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # long-confirmed queries; parity re-proven every round by
    # tests/test_oracle_parity.py. Ordered stalest-first (latest
    # driver check ascending: the r13 and r14 cohorts, then the
    # r15-window cohort at the end) so the next rotation promotes
    # from the top.
    "anti_join": q_anti_join,
    "asof_join": q_asof_join,
    "asof_minute_join": q_asof_minute_join,
    "bm25_search": q_bm25_search,
    "calendar_features": q_calendar_features,
    "conform_schema": q_conform_schema,
    "corpus_pipeline": q_corpus_pipeline,
    "cube_agg": q_cube_agg,
    "distinct_agg": q_distinct_agg,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_lsh_topk": q_embedding_lsh_topk,
    "entity_match": q_entity_match,
    "exact_dedup": q_exact_dedup,
    "exact_dedup_digest": q_exact_dedup_digest,
    "filtered_hourly": q_filtered_hourly,
    "hourly_agg": q_hourly_agg,
    "hourly_with_mode": q_hourly_with_mode,
    "interval_join_batch": q_interval_join_batch,
    "interval_join_binned": q_interval_join_binned,
    "interval_shift": q_interval_shift,
    "json_payload": q_json_payload,
    "ml_features": q_ml_features,
    "ml_train_eval": q_ml_train_eval,
    "mode_event_type": q_mode_event_type,
    "ngram_jaccard": q_ngram_jaccard,
    "null_skipping_agg": q_null_skipping_agg,
    "onehot_features": q_onehot_features,
    "pca_project": q_pca_project,
    "pit_join": q_pit_join,
    "pricing_summary": q_pricing_summary,
    "random_split_counts": q_random_split_counts,
    "range_window_partitioned": q_range_window_partitioned,
    "rollup_agg": q_rollup_agg,
    "scd2_history": q_scd2_history,
    "semi_join": q_semi_join,
    "serving_keys": q_serving_keys,
    "small_qty_revenue": q_small_qty_revenue,
    "span_dedup": q_span_dedup,
    "temperature_mixture": q_temperature_mixture,
    "two_level_avg": q_two_level_avg,
    "union_drift": q_union_drift,
    "volume_shipping": q_volume_shipping,
    "weighted_sample": q_weighted_sample,
    "bpe_artifact_encode": q_bpe_artifact_encode,
    "returned_items": q_returned_items,
    "revenue_change": q_revenue_change,
    "shipping_priority": q_shipping_priority,
    "simhash_md5_pairs": q_simhash_md5_pairs,
    "simhash_pairs": q_simhash_pairs,
    "sketch_mergeable": q_sketch_mergeable,
    "stock_hourly": q_stock_hourly,
    "stratified_sample": q_stratified_sample,
    "bpe_pair_counts": q_bpe_pair_counts,
    "customer_distribution": q_customer_distribution,
    "dedup_clusters": q_dedup_clusters,
    "dedup_survivors": q_dedup_survivors,
    "embedding_ann_stack": q_embedding_ann_stack,
    "embedding_lsh_portable": q_embedding_lsh_portable,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_quantize": q_embedding_quantize,
    "embedding_topk": q_embedding_topk,
    "funnel": q_funnel,
    "hash_sample": q_hash_sample,
    "hashed_vectors": q_hashed_vectors,
    "idle_customers": q_idle_customers,
    "label_propagation": q_label_propagation,
    "large_volume_customer": q_large_volume_customer,
    "local_supplier_volume": q_local_supplier_volume,
    "minhash_near_dup": q_minhash_near_dup,
    "multimodal_features": q_multimodal_features,
    "order_priority": q_order_priority,
    "pagerank_step": q_pagerank_step,
    "pivot": q_pivot,
    "priority_lines": q_priority_lines,
    "promo_revenue": q_promo_revenue,
    "quantiles": q_quantiles,
    "range_window_sum": q_range_window_sum,
    "repetition_stats": q_repetition_stats,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_probed": q_semantic_dedup_probed,
    "session_window": q_session_window,
    "sketch_distinct": q_sketch_distinct,
    "star_join": q_star_join,
    "stream_hourly": q_stream_hourly,
    "stream_join_outer": q_stream_join_outer,
    "text_quality": q_text_quality,
    "text_stats": q_text_stats,
    "top_k_per_group": q_top_k_per_group,
    "traffic_hourly": q_traffic_hourly,
    "traffic_hourly_fused": q_traffic_hourly_fused,
    "tz_hourly": q_tz_hourly,
    "video_frames": q_video_frames,
    # ---- the displaced r15 window (driver-checked r15, newest —
    # promoted again only after everything above)
    "corpus_diff": q_corpus_diff,
    "detokenize": q_detokenize,
    "argmax_agg": q_argmax_agg,
    "array_agg": q_array_agg,
    "bitwise_funcs": q_bitwise_funcs,
    "bpe_encode": q_bpe_encode,
    "budget_sample": q_budget_sample,
    "conditional_funcs": q_conditional_funcs,
    "corpus_prep": q_corpus_prep,
    "csv_roundtrip": q_csv_roundtrip,
    "date_functions": q_date_functions,
    "doc_chunks": q_doc_chunks,
    "embedding_pq_stack": q_embedding_pq_stack,
    "grouping_sets": q_grouping_sets,
    "incremental_dedup": q_incremental_dedup,
    "json_roundtrip": q_json_roundtrip,
    "late_supplier_blame": q_late_supplier_blame,
    "market_share": q_market_share,
    "min_cost_per_part": q_min_cost_per_part,
    "nullsafe_join": q_nullsafe_join,
    "orc_roundtrip": q_orc_roundtrip,
    "part_promotion": q_part_promotion,
    "partition_pruned": q_partition_pruned,
    "pq_codes": q_pq_codes,
    "regr_agg": q_regr_agg,
    "salted_hourly": q_salted_hourly,
    "set_ops": q_set_ops,
    "sql_surface": q_sql_surface,
    "stream_dedup": q_stream_dedup,
    "stream_near_dup": q_stream_near_dup,
    "stream_serving_pipeline": q_stream_serving_pipeline,
    "stream_sliding": q_stream_sliding,
    "stream_update": q_stream_update,
    "string_funcs": q_string_funcs,
    "supplier_part_counts": q_supplier_part_counts,
    "text_normalize": q_text_normalize,
    "text_semantic_dedup": q_text_semantic_dedup,
    "tf_idf": q_tf_idf,
    "token_frequencies": q_token_frequencies,
    "top_supplier": q_top_supplier,
    "unpivot": q_unpivot,
    "weather_hourly": q_weather_hourly,
    "window_analytics": q_window_analytics,
    "balanced_sample": q_balanced_sample,
    "bigram_surprisal": q_bigram_surprisal,
    "centroid_classify": q_centroid_classify,
    "classify_eval": q_classify_eval,
    "cohort_retention": q_cohort_retention,
    "column_profile": q_column_profile,
    "contamination": q_contamination,
}



_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {**_WINDOW, **_TAIL}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_hourly_with_mode(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def _zorder_oracle() -> str:
    from bda_spadochrony_spark.operators.layout import morton_key_sql
    expr = morton_key_sql("user_id", "hr", bits=8)
    return f"""
        SELECT event_id, {expr} AS zkey
        FROM (SELECT event_id, user_id,
                     CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr
              FROM events)
        ORDER BY 2 ASC, 1 ASC
        LIMIT 100
    """


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_literal()
    d["zorder_layout"] = _zorder_oracle()
    # the fused rewrite must produce byte-identical rows to the parity
    # pipeline — one oracle serves both
    d["traffic_hourly_fused"] = d["traffic_hourly"]
    # the streamed-in, cell-partitioned index is semantics-preserving:
    # the partition-pruned search equals the one-shot subset-center IVF
    d["stream_ann_index"] = d["embedding_ivf_portable"]
    d["json_roundtrip"] = """
        SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
               count(*) AS cnt, count(user_id) AS n_users,
               round((sum(value)) + 1e-06, 2) AS sum_value
        FROM events GROUP BY 1, 2
    """
    d["detokenize"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token,
                   generate_subscripts(
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+'), 1)
                       AS pos
            FROM documents
        ), vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY count(*) DESC, token ASC)
                       AS token_id
            FROM toks GROUP BY token
            QUALIFY token_id <= 100
        ), dec AS (
            SELECT t.doc_id, t.pos,
                   COALESCE(v.token, '<unk>') AS tok,
                   CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS is_unk
            FROM toks t LEFT JOIN vocab v USING (token)
        )
        SELECT doc_id,
               array_to_string(list(tok ORDER BY pos), ' ') AS detok,
               CAST(sum(is_unk) AS BIGINT) AS n_unk
        FROM dec GROUP BY doc_id
    """
    d["embedding_lsh_portable"] = _lsh_portable_oracle()
    d["bpe_encode"] = _bpe_encode_oracle()
    d["tokenizer_pipeline"] = _tokenizer_pipeline_oracle()
    d["tokenizer_bytes"] = _tokenizer_bytes_oracle()
    d["detokenize_bytes"] = _detokenize_bytes_oracle()
    d["bpe_train_bytes"] = _bpe_train_bytes_oracle()
    d["bpe_train"] = _bpe_train_chars_oracle()
    d["tokenizer_bytes_trained"] = _tokenizer_bytes_trained_oracle()
    # the artifact round-trip is semantics-preserving: save→load→encode
    # must hash-equal the direct trained encode (shared-oracle
    # precedent: stream_ann_index / traffic_hourly_fused)
    d["bpe_artifact_encode"] = _tokenizer_bytes_trained_oracle()
    d["pq_codes"] = """
        WITH """ + _PQ_N_CTE + """
        SELECT vec_id,
               string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes
        FROM best GROUP BY 1
    """
    d["embedding_pq_stack"] = _pq_stack_oracle()
    d["embedding_ivf_pq"] = _ivf_pq_oracle(
        __import__("bda_spadochrony_spark.operators.similarity",
                   fromlist=["cells_for"]).cells_for(
            _oracle_embedding_count()))
    # the codes-only streamed index is semantics-preserving one rung
    # further down the storage ladder: with the same subset quantizer
    # and codebooks its ADC-tile search + bounded rerank is value-
    # identical to the one-shot IVF-PQ self-search
    d["stream_ann_index_pq"] = d["embedding_ivf_pq"]
    d["embedding_ann_stack"] = _ann_stack_oracle()
    # corpus-sized quantizer (r8): same footer-count derivation as the
    # ANN planes — both engines fit cells_for(n) centers
    from bda_spadochrony_spark.operators.similarity import cells_for
    d["text_semantic_dedup"] = _text_semantic_dedup_oracle(
        cells_for(_oracle_table_count("documents")))
    cells = str(cells_for(_oracle_embedding_count()))
    d["semantic_dedup"] = d["semantic_dedup"].replace("__CELLS__", cells)
    d["semantic_dedup_probed"] = \
        d["semantic_dedup_probed"].replace("__CELLS__", cells)
    # streaming admission control (r9): batch 1's flags ARE the proven
    # incremental_dedup restatement (same hash split, same md5 band
    # family); batch 0 classified against the empty corpus admits
    # everything — the WITH clause scopes across the UNION branch
    d["stream_near_dup"] = d["incremental_dedup"] + """
            UNION ALL
            SELECT doc_id, 0 AS dup_exact, 0 AS dup_near, 1 AS admitted
            FROM split WHERE is_existing
        """
    # feature-hashed doc vectors (r9): md5 bucket + md5 sign-bit, the
    # pinned sign-preserving modulo; densified over a doc×dim grid so
    # empty/NULL docs carry the all-zero vector on both sides
    d["hashed_vectors"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                   AS tok
            FROM documents
        ), tb AS (
            SELECT doc_id,
                   CAST((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 32)
                          + 32) % 32) AS INTEGER) AS bucket,
                   CASE WHEN ((('0x' || substr(md5(tok), 9, 8))::BIGINT % 2)
                              + 2) % 2 = 0
                        THEN 1 ELSE -1 END AS sign
            FROM toks WHERE tok IS NOT NULL AND tok <> ''
        ), per AS (
            SELECT doc_id, bucket, sum(sign) AS c FROM tb GROUP BY 1, 2
        ), grid AS (
            SELECT d.doc_id, CAST(r.range AS INTEGER) AS i
            FROM (SELECT DISTINCT doc_id FROM documents) d
            CROSS JOIN range(32) r
        )
        SELECT g.doc_id,
               string_agg(CAST(CAST(coalesce(p.c, 0) AS BIGINT) AS VARCHAR),
                          ',' ORDER BY g.i) AS vec
        FROM grid g
        LEFT JOIN per p ON p.doc_id = g.doc_id AND p.bucket = g.i
        GROUP BY 1
    """
    return d


def _oracle_table_count(table: str) -> int:
    """Row count of a contract table at the scale the ORACLE runs at
    (the driver contract evaluates oracle_sql() at sf0.01; overridable
    via $SPARK_GRAFT_ORACLE_SF_DIR for local parity runs). oracle_sql()
    returns STATIC SQL, so a corpus-sized index parameter (planes_for —
    the round-7 ANN default) must be resolved at generation time from
    the same corpus the oracle will scan — read from the parquet footer,
    no Spark session needed. The Spark queries apply planes_for to their
    runtime corpus count, so at the oracle's scale both sides derive the
    identical plane set (sf0.001 and sf0.01 both hold 500 vectors → the
    parity suite's two scales agree too)."""
    import pyarrow.parquet as pq
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        return pq.ParquetFile(f"{sf}/{table}.parquet").metadata.num_rows
    except (FileNotFoundError, ImportError, OSError) as exc:
        # r8 (ADVICE): only a genuinely-absent file/module falls back to
        # the contract scale's count, and loudly — a mistyped
        # SPARK_GRAFT_ORACLE_SF_DIR silently sizing the oracle's index
        # from the wrong corpus surfaced as an inscrutable bucket
        # mismatch instead of a config error. Any other failure raises.
        import warnings
        warnings.warn(
            f"_oracle_table_count: cannot read {sf}/{table}.parquet"
            f" ({exc!r}); falling back to the sf0.01 contract count 500 —"
            " corpus-sized oracle parameters (planes_for/cells_for) may"
            " mismatch the Spark side if the oracle runs elsewhere")
        return 500


def _oracle_embedding_count() -> int:
    return _oracle_table_count("embeddings")


def _ann_stack_oracle() -> str:
    """Generated like _lsh_portable_oracle: literal planes for the bucket
    stage, int8 codes for candidate scoring (exact in double — 64 terms of
    |code| <= 127), exact float64 cosine for the rerank. Planes are sized
    from the oracle-scale corpus via the same planes_for rule the Spark
    query applies at runtime (round-7 default)."""
    from bda_spadochrony_spark.operators.similarity import (
        deterministic_planes, planes_for)
    pm = deterministic_planes(planes_for(_oracle_embedding_count()), 64)
    bits = "\n                   || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(v) for v in row)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for row in pm)
    return f"""
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), qz AS (
                SELECT vec_id,
                       [CASE WHEN mx = 0 THEN 0.0
                             ELSE floor(v[i+1] / (mx / 127.0) + 0.5)
                        END for i in range(64)]::DOUBLE[] AS q
                FROM (SELECT vec_id, v,
                             list_max(list_transform(v, x -> abs(x))) AS mx
                      FROM n)
            ), b AS (
                SELECT n.vec_id, n.v, qz.q,
                       sqrt(list_dot_product(qz.q, qz.q)) AS qn,
                   {bits} AS bucket
                FROM n JOIN qz USING (vec_id)
            ), pairs AS (
                SELECT qa.vec_id AS query_id, cb.vec_id AS corpus_id,
                       qa.v AS qv, cb.v AS cv,
                       list_dot_product(qa.q, cb.q) / (qa.qn * cb.qn) AS approx
                FROM b qa JOIN b cb
                  ON qa.bucket = cb.bucket AND qa.vec_id != cb.vec_id
                WHERE qa.qn > 0 AND cb.qn > 0
            ), cand AS (
                SELECT query_id, corpus_id, qv, cv FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, corpus_id ASC) AS rn
                    FROM pairs) WHERE rn <= 10
            ), exact AS (
                SELECT query_id, corpus_id,
                       list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(cv, cv))) AS cos
                FROM cand
            ), ranked AS (
                SELECT query_id, corpus_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, corpus_id ASC) AS rn
                FROM exact
            )
            SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
            FROM ranked WHERE rn <= 3
        """


def _lsh_portable_oracle() -> str:
    """Generated, not hand-written: the md5-derived hyperplane constants
    (similarity.deterministic_planes) are inlined as SQL literals so DuckDB
    buckets with the exact doubles Spark uses (repr() round-trips floats).
    Plane count sized from the oracle-scale corpus (planes_for — round-7
    default), mirroring the Spark query's runtime sizing."""
    from bda_spadochrony_spark.operators.similarity import (
        deterministic_planes, planes_for)
    pm = deterministic_planes(planes_for(_oracle_embedding_count()), 64)
    bits = "\n                   || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(v) for v in row)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for row in pm)
    return f"""
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), b AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                   {bits} AS bucket
                FROM n WHERE list_dot_product(v, v) > 0
            ), scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                       list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cos
                FROM b q JOIN b c
                  ON c.bucket = q.bucket AND c.vec_id != q.vec_id
            ), ranked AS (
                SELECT query_id, corpus_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, corpus_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
            FROM ranked WHERE rn <= 1
        """


def _oracle_sql_literal() -> dict[str, str]:
    return {
        # higher-order array-function family: the oracle mirrors every
        # lambda with DuckDB's list_* twins; the max|x| < 1e6 moment
        # bound (NULL list_max drops empty arrays on both sides) keeps
        # the mixed-sign dot_rev fold's reorder error below the
        # 4-decimal grid
        "higher_order_funcs": """
            WITH clean AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  AND list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) < 100.0
            )
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(e, x -> x * x)))
                         + 1e-08, 4) AS l2_norm,
                   CAST(len(list_filter(e, x -> x > 0)) AS INTEGER)
                       AS n_pos,
                   round(list_max(list_transform(e, x -> abs(x)))
                         + 1e-08, 4) AS max_abs,
                   len(list_filter(e, x -> x > 0.5)) > 0 AS any_gt_half,
                   len(list_filter(e, x -> NOT (x < 10.0))) = 0
                       AS all_lt10,
                   round(list_sum(e[1:3]) + 1e-08, 4) AS head3_sum,
                   round(list_sort(e)[1] + 1e-08, 4) AS min_val,
                   round(list_dot_product(e, list_reverse(e))
                         + 1e-08, 4) AS dot_rev
            FROM clean
        """,
        # corpus versioning diff: the derived old/new versions and the
        # digest compare restated; presence flags (not digest NULLs)
        # decide added/removed, digest null-safe equality decides
        # changed/unchanged
        "corpus_diff": """
            WITH old AS (
                SELECT doc_id, md5(text) AS od, TRUE AS in_old
                FROM documents WHERE doc_id % 10 != 7
            ), new AS (
                SELECT doc_id,
                       md5(CASE WHEN doc_id % 10 = 5
                                THEN text || ' [rev2]' ELSE text END) AS nd,
                       TRUE AS in_new
                FROM documents WHERE doc_id % 10 != 2
            ), j AS (
                SELECT doc_id,
                       CASE WHEN in_old IS NULL THEN 'added'
                            WHEN in_new IS NULL THEN 'removed'
                            WHEN od IS NOT DISTINCT FROM nd
                                 THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM old FULL OUTER JOIN new USING (doc_id)
            )
            SELECT status, count(*) AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM j GROUP BY 1
        """,
        # quantizer drift monitor (r12): both profiles restate the shared
        # primary-cell assignment (dist2 asc, cell asc — the rule every
        # IVF oracle already pins), validity is applied AFTER the drift
        # transform on the current side (mirroring the Spark order), and
        # the drift terms are plain aggregates over the 16-cell frames
        "quantizer_drift": """
            WITH cent AS (
                SELECT CAST(vec_id AS INTEGER) AS cell,
                       embedding::DOUBLE[] AS c
                FROM embeddings WHERE vec_id < 16
            ), refv AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), curraw AS (
                SELECT vec_id,
                       CASE WHEN vec_id % 3 = 0
                            THEN list_transform(embedding::DOUBLE[],
                                                x -> x * 1.5)
                            ELSE embedding::DOUBLE[] END AS e
                FROM embeddings
            ), curv AS (
                SELECT vec_id, e AS v FROM curraw
                WHERE e IS NOT NULL
                  AND len(list_filter(e,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  AND list_sum(list_transform(e, x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(e, x -> x * x)))
            ), ref_d AS (
                SELECT v.vec_id, c.cell,
                       list_dot_product(
                           [v.v[i+1] - c.c[i+1] for i in range(64)],
                           [v.v[i+1] - c.c[i+1] for i in range(64)]) AS d2
                FROM refv v CROSS JOIN cent c
            ), ref_a AS (
                SELECT vec_id, cell, d2 FROM (
                    SELECT vec_id, cell, d2,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2 ASC, cell ASC)
                               AS rn
                    FROM ref_d) WHERE rn = 1
            ), cur_d AS (
                SELECT v.vec_id, c.cell,
                       list_dot_product(
                           [v.v[i+1] - c.c[i+1] for i in range(64)],
                           [v.v[i+1] - c.c[i+1] for i in range(64)]) AS d2
                FROM curv v CROSS JOIN cent c
            ), cur_a AS (
                SELECT vec_id, cell, d2 FROM (
                    SELECT vec_id, cell, d2,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2 ASC, cell ASC)
                               AS rn
                    FROM cur_d) WHERE rn = 1
            ), ref_prof AS (
                SELECT c.cell, count(a.vec_id) AS ref_n,
                       avg(a.d2) AS ref_mean_d2
                FROM cent c LEFT JOIN ref_a a USING (cell) GROUP BY 1
            ), cur_prof AS (
                SELECT c.cell, count(a.vec_id) AS n,
                       avg(a.d2) AS mean_d2
                FROM cent c LEFT JOIN cur_a a USING (cell) GROUP BY 1
            ), j AS (
                SELECT cell, n, ref_n, mean_d2, ref_mean_d2,
                       sum(n) OVER () AS tot_n,
                       sum(ref_n) OVER () AS tot_ref,
                       count(*) OVER () AS k
                FROM cur_prof JOIN ref_prof USING (cell)
            ), terms AS (
                SELECT cell, n, ref_n, mean_d2, ref_mean_d2,
                       (n + 0.5) / (tot_n + 0.5 * k) AS p,
                       (ref_n + 0.5) / (tot_ref + 0.5 * k) AS q
                FROM j
            )
            SELECT cell, n, ref_n,
                   round((p) + 1e-10, 6) AS p,
                   round((q) + 1e-10, 6) AS q,
                   round((p * ln(p / q)) + 1e-10, 6) AS kl_term,
                   round((mean_d2 / ref_mean_d2) + 1e-08, 4) AS d2_ratio
            FROM terms
        """,
        # TPC-H Q11 shape: the HAVING bound restated as a scalar
        # cross-join (DuckDB evaluates the same one-row total)
        "important_stock": """
            WITH base AS (
                SELECT l_partkey,
                       l_extendedprice * (1 - l_discount) AS val
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_1'
            ), per AS (
                SELECT l_partkey, sum(val) AS raw_value
                FROM base GROUP BY 1
            ), tot AS (
                SELECT sum(raw_value) AS total_value FROM per
            )
            SELECT l_partkey,
                   round((raw_value) + 1e-06, 2) AS value
            FROM per CROSS JOIN tot
            WHERE round((raw_value) + 1e-06, 2)
                  > round((0.001 * total_value) + 1e-06, 2)
        """,
        # TPC-H Q20 shape: the correlated half-of-sum subquery as two
        # aggregates over the same year slice + the part-key join
        "part_promotion": """
            WITH y AS (
                SELECT l_partkey, l_suppkey, l_quantity
                FROM lineitem WHERE year(l_shipdate) = 1996
            ), per_ps AS (
                SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
                FROM y GROUP BY 1, 2
            ), per_p AS (
                SELECT l_partkey, sum(l_quantity) AS part_qty
                FROM y GROUP BY 1
            )
            SELECT s_name, l_partkey,
                   round((supp_qty) + 1e-06, 2) AS supp_qty,
                   round((part_qty) + 1e-06, 2) AS part_qty
            FROM per_ps
            JOIN per_p USING (l_partkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE supp_qty > 0.5 * part_qty
        """,
        # token-budget sampling: the oracle restates the multiplicative
        # id hash (hash_sample's pinned integer form) and the identical
        # running-sum window frame; sum(int) is cast to BIGINT on both
        # sides (DuckDB widens window sums to INT128)
        "budget_sample": """
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len(string_split_regex(lower(trim(text)),
                            '[\\s\\x0b]+')) AS INTEGER) AS n_tokens,
                       (((doc_id * 2654435761) % 4294967296)
                        + 4294967296) % 4294967296 AS h
                FROM documents
            ), c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(sum(n_tokens) OVER (
                            PARTITION BY source ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_tokens
                FROM t
            )
            SELECT doc_id, source, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 2000
        """,
        # map-function family: a map literal keyed by three known names
        # IS three scalars — the oracle computes them directly, pinning
        # Spark's map_filter NULL-predicate and try_element_at semantics
        "map_funcs": """
            WITH t AS (
                SELECT event_id, value AS v,
                       CAST(user_id AS DOUBLE) AS u,
                       -- the json_payload precedent (r12 ADVICE): a bare
                       -- CAST hard-errors in DuckDB on malformed JSON /
                       -- non-numeric $.k while Spark yields NULL — guard
                       -- with json_valid + TRY_CAST so edge fixtures with
                       -- junk props can't kill the oracle
                       CASE WHEN props IS NOT NULL AND json_valid(props)
                            THEN TRY_CAST(json_extract_string(props, '$.k')
                                          AS DOUBLE) END AS k
                FROM events
            )
            SELECT event_id,
                   CAST((CASE WHEN v > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN u > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN k > 0 THEN 1 ELSE 0 END) AS INTEGER)
                       AS n_pos,
                   array_to_string(list_sort(list_filter(
                       [CASE WHEN k > 0 THEN 'kprop' END,
                        CASE WHEN u > 0 THEN 'uid' END,
                        CASE WHEN v > 0 THEN 'value' END],
                       x -> x IS NOT NULL)), ',') AS pos_keys,
                   round(v * 2.0 + 1e-08, 4) AS value_x2,
                   round(coalesce(v, 0) + coalesce(u, 0) + coalesce(k, 0)
                         + 1e-08, 4) AS sum_vals,
                   coalesce(k > 0, FALSE) AS kprop_pos
            FROM t
        """,
        "hourly_agg": """
            SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                   count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "mode_event_type": """
            SELECT date, hour, event_type AS mode_event_type FROM (
                SELECT date, hour, event_type,
                       row_number() OVER (PARTITION BY date, hour
                                          ORDER BY cnt DESC, event_type DESC) AS rn
                FROM (
                    SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                           event_type, count(*) AS cnt
                    FROM events GROUP BY 1, 2, 3
                )
            ) WHERE rn = 1
        """,
        "hourly_with_mode": """
            WITH agg AS (
                SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                       count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
                FROM events GROUP BY 1, 2
            ), mode AS (
            SELECT date, hour, event_type AS mode_event_type FROM (
                SELECT date, hour, event_type,
                       row_number() OVER (PARTITION BY date, hour
                                          ORDER BY cnt DESC, event_type DESC) AS rn
                FROM (
                    SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                           event_type, count(*) AS cnt
                    FROM events GROUP BY 1, 2, 3
                )
            ) WHERE rn = 1
            )
            -- NULL-safe join keys: a NULL-ts group (unparseable event
            -- time) must survive to the report like it does in the
            -- engine's fused single-scan form, not silently vanish
            -- because NULL never equi-matches (r6 pathological-events
            -- fixture finding)
            SELECT agg.date, agg.hour, agg.cnt, agg.avg_value,
                   mode.mode_event_type
            FROM agg JOIN mode
              ON agg.date IS NOT DISTINCT FROM mode.date
             AND agg.hour IS NOT DISTINCT FROM mode.hour
        """,
        "two_level_avg": """
            WITH fine AS (
                SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                       event_type, user_id, avg(value) AS fine_avg
                FROM events GROUP BY 1, 2, 3, 4
            )
            SELECT date, hour, event_type,
                   count(user_id) AS n_users,
                   round((avg(fine_avg)) + 1e-06, 2) AS avg_avg_value
            FROM fine GROUP BY 1, 2, 3
        """,
        "null_skipping_agg": """
            WITH ev AS (
                SELECT event_type,
                       CASE WHEN value < 5.0 THEN NULL ELSE value END AS value_maybe
                FROM events
            )
            SELECT event_type, count(value_maybe) AS n_nonnull, count(*) AS n_rows,
                   round((avg(value_maybe)) + 1e-06, 2) AS avg_nonnull
            FROM ev GROUP BY 1
        """,
        "filtered_hourly": """
            SELECT CAST(ts AS DATE) AS date, count(*) AS n_purchases,
                   round((sum(value)) + 1e-06, 2) AS total_value
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
            GROUP BY 1
        """,
        "range_window_sum": """
            SELECT event_id, ts_unix,
                   round((sum(value) OVER w) + 1e-06, 2) AS next_hour_value,
                   count(*) OVER w AS next_hour_events
            FROM (SELECT event_id, value,
                         CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix
                  FROM events)
            WINDOW w AS (ORDER BY ts_unix RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round((sum(l_quantity)) + 1e-06, 2) AS sum_qty,
                   round((sum(l_extendedprice)) + 1e-06, 2) AS sum_base_price,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2) AS sum_disc_price,
                   round((avg(l_quantity)) + 1e-06, 2) AS avg_qty,
                   round((avg(l_discount)) + 1e-08, 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY 1, 2
        """,
        # decimal money (r12): doubles are bias-rounded to the 2-decimal
        # grid BEFORE the decimal cast (the stable_round tie rule — after
        # the round both engines' casts recover the same decimal), then
        # all arithmetic is exact decimal with explicitly pinned widths,
        # so the sums need no output rounding at all
        "pricing_summary_decimal": """
            WITH d AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(round((l_quantity) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS qty,
                       CAST(round((l_extendedprice) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS price,
                       CAST(round((l_discount) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS disc,
                       CAST(round((l_tax) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS tax
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            ), e AS (
                SELECT *, CAST(price * (CAST(1 AS DECIMAL(12,2)) - disc)
                               AS DECIMAL(18,4)) AS disc_price
                FROM d
            ), f AS (
                SELECT *, CAST(disc_price
                               * (CAST(1 AS DECIMAL(12,2)) + tax)
                               AS DECIMAL(18,6)) AS charge
                FROM e
            )
            -- widening casts only (scale never reduced): DuckDB
            -- TRUNCATES on scale-reducing decimal casts while Spark
            -- rounds HALF_UP — the sentinel this query documents
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(qty) AS DECIMAL(20,2)) AS VARCHAR)
                       AS sum_qty,
                   CAST(CAST(sum(price) AS DECIMAL(20,2)) AS VARCHAR)
                       AS sum_base_price,
                   CAST(CAST(sum(disc_price) AS DECIMAL(24,4)) AS VARCHAR)
                       AS sum_disc_price,
                   CAST(CAST(sum(charge) AS DECIMAL(28,6)) AS VARCHAR)
                       AS sum_charge,
                   count(*) AS count_order
            FROM f GROUP BY 1, 2
        """,
        "pricing_decimal_avg": """
            WITH d AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(round((l_quantity) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS qty,
                       CAST(round((l_extendedprice) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS price,
                       CAST(round((l_discount) + 1e-06, 2)
                            AS DECIMAL(12,2)) AS disc
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            ), e AS (
                SELECT *, CAST(price * (CAST(1 AS DECIMAL(12,2)) - disc)
                               AS DECIMAL(18,4)) AS disc_price
                FROM d
            ), g AS (
                -- unit-scaled sums: the values are exactly integral, so
                -- the HUGEINT casts are exact in both engines
                SELECT l_returnflag, l_linestatus,
                       CAST(sum(qty) * 100 AS HUGEINT) AS squ,
                       CAST(sum(price) * 100 AS HUGEINT) AS spu,
                       CAST(sum(disc_price) * 10000 AS HUGEINT) AS sdpu,
                       CAST(count(*) AS HUGEINT) AS c
                FROM e GROUP BY 1, 2
            ), h AS (
                -- the pinned portable rule: HALF_UP avg/ratio at scale k
                -- = (2*S*10^(k-s) + C) // (2*C) on positive unit sums
                -- (DuckDB's native avg(DECIMAL) is DOUBLE — never exact)
                SELECT l_returnflag, l_linestatus,
                       (2*squ*10000 + c) // (2*c) AS aqu,
                       (2*spu*10000 + c) // (2*c) AS apu,
                       (2*sdpu*10000 + c) // (2*c) AS adpu,
                       (2*sdpu*10000 + spu) // (2*spu) AS ru
                FROM g
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(aqu // 1000000 AS VARCHAR) || '.' ||
                       lpad(CAST(aqu % 1000000 AS VARCHAR), 6, '0')
                       AS avg_qty,
                   CAST(apu // 1000000 AS VARCHAR) || '.' ||
                       lpad(CAST(apu % 1000000 AS VARCHAR), 6, '0')
                       AS avg_price,
                   CAST(adpu // 100000000 AS VARCHAR) || '.' ||
                       lpad(CAST(adpu % 100000000 AS VARCHAR), 8, '0')
                       AS avg_disc_price,
                   CAST(ru // 1000000 AS VARCHAR) || '.' ||
                       lpad(CAST(ru % 1000000 AS VARCHAR), 6, '0')
                       AS disc_ratio
            FROM h
        """,
        "star_join": """
            SELECT r_name, n_name,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        "union_drift": """
            WITH u AS (
                SELECT l_orderkey, l_returnflag, l_quantity, NULL::DOUBLE AS l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT l_orderkey, l_returnflag, NULL::DOUBLE AS l_quantity, l_extendedprice
                FROM lineitem
            )
            SELECT l_returnflag, count(*) AS n_rows,
                   count(l_quantity) AS n_qty, count(l_extendedprice) AS n_price,
                   round((sum(l_quantity)) + 1e-06, 2) AS sum_qty
            FROM u GROUP BY 1
        """,
        "conform_schema": """
            SELECT event_id, user_id, value, event_type,
                   NULL::DOUBLE AS session_score, ts
            FROM events
        """,
        "onehot_features": """
            SELECT event_id,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS et_click,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS et_view,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS et_purchase,
                   CASE WHEN event_type IN ('click', 'view', 'purchase') THEN 0 ELSE 1 END AS et_other,
                   1 AS flag_sum
            FROM events
        """,
        "calendar_features": """
            SELECT event_id, CAST(hour(ts) AS INTEGER) AS hour,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dayofweek,
                   CAST(month(ts) AS INTEGER) AS month
            FROM events
        """,
        "interval_shift": """
            SELECT event_id,
                   CAST(ts - INTERVAL 20 MINUTE AS DATE) AS date_skewed,
                   CAST(hour(ts - INTERVAL 20 MINUTE) AS INTEGER) AS hour_skewed
            FROM events
        """,
        "serving_keys": """
            SELECT event_id,
                   CAST(CAST(ts AS DATE) AS VARCHAR) || '_' || CAST(CAST(hour(ts) AS INTEGER) AS VARCHAR) AS row_key,
                   strftime(ts, '%Y-%m-%d_%H-%M') AS minute_key
            FROM events
        """,
        "json_payload": """
            -- r7 edge pins (Spark from_json is PERMISSIVE + typed):
            -- malformed/empty JSON -> NULL row (json_valid guard;
            -- DuckDB json_extract otherwise ERRORS), and only JSON
            -- integer tokens populate an IntegerType field — 2.7 and
            -- "12" are NULL in Spark while DuckDB's TRY_CAST would
            -- round/parse them (json_type guard)
            SELECT event_id,
                   CASE WHEN props IS NOT NULL AND json_valid(props)
                         AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                        THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER)
                   END AS prop_k
            FROM events
""",
        "asof_minute_join": """
            WITH per_min AS (
                SELECT date_trunc('minute', ts) AS minute, count(*) AS n_in_minute
                FROM events GROUP BY 1
            )
            SELECT e.event_id, m.minute, m.n_in_minute
            FROM events e JOIN per_min m ON date_trunc('minute', e.ts) = m.minute
        """,
        "interval_join_batch": """
            SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id AS err_user
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND c.ts BETWEEN e.ts - INTERVAL 1800 SECOND AND e.ts + INTERVAL 1800 SECOND
            WHERE e.event_type = 'error' AND c.event_type = 'click'
        """,
        "top_k_per_group": """
            SELECT event_type, event_id, value FROM (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value DESC, event_id ASC) AS rn
                FROM events
            ) WHERE rn <= 3
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "exact_dedup_digest": """
            SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "bm25_search": """
            WITH dl AS (
                SELECT doc_id,
                       len(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS dl
                FROM documents
            ), stats AS (
                SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
            ), tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS t
                FROM documents
            ), tf AS (
                SELECT doc_id, t, count(*) AS tf FROM tok
                WHERE t IN ('spark', 'stream', 'window') GROUP BY 1, 2
            ), dfreq AS (
                SELECT t, count(*) AS df FROM tf GROUP BY 1
            )
            SELECT tf.doc_id,
                   round((sum(
                       ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                                         / stats.avgdl)))) + 1e-10, 6)
                   + 0.0 AS score
            FROM tf
            JOIN dfreq USING (t)
            JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY 1
            ORDER BY score DESC, tf.doc_id ASC
            LIMIT 20
        """,
        "span_dedup": """
            WITH ls AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS l
                FROM documents
            ), pos AS (
                SELECT doc_id, l,
                       unnest(generate_series(1, len(l) - 9, 5)) AS p
                FROM ls WHERE len(l) >= 10
            ), sp AS (
                SELECT doc_id, p,
                       md5(array_to_string(l[p : p + 9], ' ')) AS dg
                FROM pos
            ), dup AS (
                SELECT dg, 1 AS d FROM sp
                GROUP BY dg HAVING count(DISTINCT doc_id) >= 2
            )
            SELECT s.doc_id, count(*) AS n_spans,
                   count(dup.d) AS n_dup_spans,
                   round((count(dup.d) * 1.0 / count(*)) + 1e-08, 4)
                   + 0.0 AS dup_ratio
            FROM sp s LEFT JOIN dup ON s.dg = dup.dg
            GROUP BY 1
        """,
        "tz_hourly": """
            SELECT CAST(nyts AS DATE) AS date,
                   CAST(hour(nyts) AS INTEGER) AS hour,
                   count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
            FROM (SELECT timezone('America/New_York', timezone('UTC', ts))
                         - INTERVAL 20 MINUTE AS nyts, value
                  FROM events)
            GROUP BY 1, 2
        """,
        "stream_distinct": """
            -- ts IS NOT NULL: same no-window rule as stream_hourly
            SELECT date_trunc('hour', ts) AS window_start,
                   count(DISTINCT user_id) AS distinct_keys
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        """,
        "stream_enrich": """
            SELECT c.c_mktsegment AS segment, e.event_type,
                   count(*) AS cnt,
                   round((sum(e.value)) + 1e-06, 2) AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        "stream_hourly": """
            -- ts IS NOT NULL: an event with no event time has no
            -- window — Spark's streaming window() drops it (pinned by
            -- the r6 pathological-events fixture)
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        """,
        "stream_dedup": """
            SELECT event_id, ts, user_id, event_type, value FROM events
        """,
        "stream_serving_pipeline": """
            SELECT event_id,
                   concat(CAST(CAST(ts AS DATE) AS VARCHAR), '_',
                          CAST(hour(ts) AS VARCHAR)) AS row_key,
                   event_type, value, true AS scored
            FROM events
        """,
        "stream_join_outer": """
            WITH errors AS (
                SELECT event_id AS err_id, user_id AS err_user, ts AS err_ts
                FROM events WHERE event_type = 'error'
            ), clicks AS (
                SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
                FROM events WHERE event_type = 'click'
            )
            SELECT err_id, err_user, err_ts, click_id, click_user, click_ts
            FROM errors FULL OUTER JOIN clicks
              ON CAST(err_ts AS DATE) = CAST(click_ts AS DATE)
             AND click_ts BETWEEN err_ts - INTERVAL 30 SECOND
                              AND err_ts + INTERVAL 30 SECOND
            WHERE coalesce(err_ts, click_ts) <=
                  (SELECT least(max(CASE WHEN event_type = 'error' THEN ts END),
                                max(CASE WHEN event_type = 'click' THEN ts END))
                          - INTERVAL 2 MINUTE
                   FROM events)
        """,
        "ngram_jaccard": """
            WITH ls AS (
                SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents
            ), toks AS (
                SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS ord FROM ls
            ), sh AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a
                JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
                JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
                GROUP BY 1, 2
            ), cnt AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round((i * 1.0 / (na.n + nb.n - i)) + 1e-10, 6) AS jaccard
            FROM inter
            JOIN cnt na ON na.doc_id = id_a
            JOIN cnt nb ON nb.doc_id = id_b
            WHERE i * 1.0 / (na.n + nb.n - i) >= 0.5
        """,
        "minhash_near_dup": """
            WITH ls AS (
                SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents
            ), toks AS (
                SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS ord FROM ls
            ), sh AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a
                JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
                JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
                GROUP BY 1, 2
            ), cnt AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round((i * 1.0 / (na.n + nb.n - i)) + 1e-10, 6) AS jaccard
            FROM inter
            JOIN cnt na ON na.doc_id = id_a
            JOIN cnt nb ON nb.doc_id = id_b
            WHERE i * 1.0 / (na.n + nb.n - i) >= 0.5
        """,
        "embedding_topk": """
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
                WHERE list_dot_product(v, v) > 0
            ), scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                       list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cos
                FROM nn q JOIN nn c ON c.vec_id != q.vec_id
            ), ranked AS (
                SELECT query_id, corpus_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, corpus_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
            FROM ranked WHERE rn <= 3
        """,
        "text_quality": """
            WITH base AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS toks,
                       greatest(length(text), 1) * 1.0 AS safe_chars
                FROM documents
            ), feat AS (
                SELECT doc_id,
                       len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','that','for','with'))) AS s_en,
                       len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS s_de,
                       len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','pour','dans','que'))) AS s_fr,
                       len(list_filter(toks, x -> x IN ('i','w','nie','na','to','że','jest','się','do','z'))) AS s_pl,
                       CAST(len(toks) AS INTEGER) AS q_n_tokens,
                       round((length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / safe_chars) + 1e-08, 4) AS q_punct_ratio,
                       round((length(regexp_replace(text, '[^0-9]', '', 'g')) / safe_chars) + 1e-08, 4) AS q_digit_ratio,
                       round((len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','that','for','with'))) * 1.0
                              / greatest(len(toks), 1)) + 1e-08, 4) AS q_stopword_ratio
                FROM base
            )
            SELECT doc_id,
                   CASE WHEN coalesce(greatest(s_en, s_de, s_fr, s_pl), 0)
                             = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_pl) THEN 'en'
                        WHEN s_de = greatest(s_de, s_fr, s_pl) THEN 'de'
                        WHEN s_fr = greatest(s_fr, s_pl) THEN 'fr'
                        ELSE 'pl' END AS lang_detected,
                   q_n_tokens, q_punct_ratio, q_stopword_ratio,
                   round(((CASE WHEN q_n_tokens < 5 THEN 0.2 ELSE 1.0 END)
                          * (1.0 - least(q_punct_ratio * 2, 0.5))
                          * (1.0 - least(q_digit_ratio, 0.5))
                          * (0.5 + least(q_stopword_ratio * 2, 0.5))) + 1e-08, 4) AS quality
            FROM feat
        """,
        "ml_features": """
            SELECT event_id,
                   CAST(hour(ts) AS INTEGER) AS hour,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dayofweek,
                   CAST(month(ts) AS INTEGER) AS month,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS et_click,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS et_view,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS et_purchase,
                   CASE WHEN event_type IN ('click','view','purchase') THEN 0 ELSE 1 END AS et_other,
                   round((sum(value) OVER (ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                           RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)) + 1e-06, 2) AS label
            FROM events
        """,
        "traffic_hourly": """
            WITH src AS (
                SELECT CAST(nyts AS DATE) AS date,
                       CAST(hour(nyts) AS INTEGER) AS hour,
                       event_type AS iconCategory, user_id AS id,
                       CASE WHEN value < 5 THEN NULL ELSE value END AS delay,
                       CASE WHEN value > 95 THEN NULL ELSE value * 2 END AS length,
                       CASE WHEN user_id % 10 = 0 THEN NULL
                            ELSE CAST(user_id % 3 AS VARCHAR) END AS prob,
                       CAST(CAST(floor(minute(ts) / 15) AS INTEGER) AS VARCHAR) AS mag
                FROM (SELECT timezone('America/New_York', timezone('UTC', ts)) AS nyts,
                             ts, event_type, user_id, value
                      FROM events)
            ), fine AS (
                SELECT date, hour, iconCategory, id,
                       count(prob) AS n_prob,
                       avg(delay) AS avg_delay, avg(length) AS avg_length
                FROM src GROUP BY 1, 2, 3, 4
                HAVING count(delay) > 0 AND count(length) > 0
            ), fmode_prob AS (
                SELECT date, hour, iconCategory, id, prob AS mode_prob FROM (
                    SELECT date, hour, iconCategory, id, prob,
                           row_number() OVER (PARTITION BY date, hour, iconCategory, id
                                              ORDER BY count(*) DESC, prob DESC NULLS LAST) AS rn
                    FROM src GROUP BY 1, 2, 3, 4, 5
                ) WHERE rn = 1
            ), fmode_mag AS (
                SELECT date, hour, iconCategory, id, mag AS mode_mag FROM (
                    SELECT date, hour, iconCategory, id, mag,
                           row_number() OVER (PARTITION BY date, hour, iconCategory, id
                                              ORDER BY count(*) DESC, mag DESC NULLS LAST) AS rn
                    FROM src GROUP BY 1, 2, 3, 4, 5
                ) WHERE rn = 1
            ), fine2 AS (
                SELECT f.*, p.mode_prob, m.mode_mag
                FROM fine f
                JOIN fmode_prob p USING (date, hour, iconCategory, id)
                JOIN fmode_mag m USING (date, hour, iconCategory, id)
            ), coarse AS (
                SELECT date, hour, iconCategory,
                       count(id) AS n_incidents,
                       round((avg(avg_delay)) + 1e-06, 2) AS avg_avg_delay,
                       round((avg(avg_length)) + 1e-06, 2) AS avg_avg_length
                FROM fine2 GROUP BY 1, 2, 3
            ), cmode_prob AS (
                SELECT date, hour, iconCategory, mode_prob AS coarse_mode_prob FROM (
                    SELECT date, hour, iconCategory, mode_prob,
                           row_number() OVER (PARTITION BY date, hour, iconCategory
                                              ORDER BY count(*) DESC, mode_prob DESC NULLS LAST) AS rn
                    FROM fine2 GROUP BY 1, 2, 3, 4
                ) WHERE rn = 1
            ), cmode_mag AS (
                SELECT date, hour, iconCategory, mode_mag AS coarse_mode_mag FROM (
                    SELECT date, hour, iconCategory, mode_mag,
                           row_number() OVER (PARTITION BY date, hour, iconCategory
                                              ORDER BY count(*) DESC, mode_mag DESC NULLS LAST) AS rn
                    FROM fine2 GROUP BY 1, 2, 3, 4
                ) WHERE rn = 1
            )
            SELECT c.date, c.hour, c.iconCategory, c.n_incidents,
                   c.avg_avg_delay, c.avg_avg_length,
                   p.coarse_mode_prob, m.coarse_mode_mag
            FROM coarse c
            JOIN cmode_prob p USING (date, hour, iconCategory)
            JOIN cmode_mag m USING (date, hour, iconCategory)
        """,
        "stock_hourly": """
            WITH src AS (
                SELECT timezone('America/New_York',
                               timezone('UTC',
                                        make_timestamp(CAST(floor(epoch(ts)) AS BIGINT)
                                                       * 1000000)))
                       - INTERVAL 20 MINUTE AS nyts,
                       value AS volume, value * 2 AS vwap, value + 1 AS open,
                       value + 2 AS close, value * 1.5 AS high,
                       value * 0.5 AS low, value % 7 AS transactions
                FROM events
            )
            SELECT CAST(nyts AS DATE) AS date, CAST(hour(nyts) AS INTEGER) AS hour,
                   count(*) AS cnt,
                   round((avg(volume)) + 1e-06, 2) AS avg_volume,
                   round((avg(vwap)) + 1e-06, 2) AS avg_vwap,
                   round((avg(open)) + 1e-06, 2) AS avg_open,
                   round((avg(close)) + 1e-06, 2) AS avg_close,
                   round((avg(high)) + 1e-06, 2) AS avg_high,
                   round((avg(low)) + 1e-06, 2) AS avg_low,
                   round((avg(transactions)) + 1e-06, 2) AS avg_transactions
            FROM src GROUP BY 1, 2
        """,
        "weather_hourly": """
            WITH src AS (
                SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                       value AS temp, value * 2 AS visibility, value + 10 AS pressure,
                       value % 100 AS clouds, value - 1 AS feels_like,
                       value + 5 AS temp_max, value - 5 AS temp_min,
                       value % 50 AS humidity, value / 2 AS wind_speed,
                       event_type AS weather_main,
                       event_type || '-' || CAST(user_id % 2 AS VARCHAR) AS weather_description
                FROM events
            ), agg AS (
                SELECT date, hour, count(*) AS cnt,
                       round((avg(temp)) + 1e-06, 2) AS avg_temp,
                       round((avg(visibility)) + 1e-06, 2) AS avg_visibility,
                       round((avg(pressure)) + 1e-06, 2) AS avg_pressure,
                       round((avg(clouds)) + 1e-06, 2) AS avg_clouds,
                       round((avg(feels_like)) + 1e-06, 2) AS avg_feels_like,
                       round((avg(temp_max)) + 1e-06, 2) AS avg_temp_max,
                       round((avg(temp_min)) + 1e-06, 2) AS avg_temp_min,
                       round((avg(humidity)) + 1e-06, 2) AS avg_humidity,
                       round((avg(wind_speed)) + 1e-06, 2) AS avg_wind_speed
                FROM src GROUP BY 1, 2
            ), m1 AS (
                SELECT date, hour, weather_main AS mode_weather_main FROM (
                    SELECT date, hour, weather_main,
                           row_number() OVER (PARTITION BY date, hour
                                              ORDER BY count(*) DESC,
                                                       weather_main DESC NULLS LAST) AS rn
                    FROM src GROUP BY 1, 2, 3
                ) WHERE rn = 1
            ), m2 AS (
                SELECT date, hour, weather_description AS mode_weather_description FROM (
                    SELECT date, hour, weather_description,
                           row_number() OVER (PARTITION BY date, hour
                                              ORDER BY count(*) DESC,
                                                       weather_description DESC NULLS LAST) AS rn
                    FROM src GROUP BY 1, 2, 3
                ) WHERE rn = 1
            )
            SELECT a.*, m1.mode_weather_main, m2.mode_weather_description
            FROM agg a
            JOIN m1 USING (date, hour)
            JOIN m2 USING (date, hour)
        """,
        "semi_join": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00')
            GROUP BY 1
        """,
        "anti_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
            GROUP BY 1
        """,
        "range_window_partitioned": """
            SELECT event_id, ts_unix,
                   round((sum(value) OVER w) + 1e-06, 2) AS next_hour_value
            FROM (SELECT event_id, value, CAST(ts AS DATE) AS date,
                         CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix
                  FROM events)
            WINDOW w AS (PARTITION BY date ORDER BY ts_unix
                         RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING)
        """,
        "rollup_agg": """
            SELECT CAST(ts AS DATE) AS date, event_type, count(*) AS cnt,
                   round((sum(value)) + 1e-06, 2) AS sum_value
            FROM events GROUP BY ROLLUP (CAST(ts AS DATE), event_type)
        """,
        "cube_agg": """
            SELECT event_type, CAST(year(ts) AS INTEGER) AS yr, count(*) AS cnt
            FROM events GROUP BY CUBE (event_type, CAST(year(ts) AS INTEGER))
        """,
        "distinct_agg": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "session_window": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       -- >= : Spark's session_window is end-exclusive (an
                       -- event exactly gap after the last starts a NEW
                       -- session: merge only when ts < last + gap)
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), grp AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   round((sum(value)) + 1e-06, 2) AS sum_value
            FROM grp GROUP BY user_id, sid
        """,
        "nation_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round((sum(l_extendedprice * (1 - l_discount)
                              - 0.6 * p_retailprice * l_quantity)) + 1e-06, 2)
                       AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN orders   ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "priority_lines": """
            SELECT l_returnflag AS returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
            GROUP BY 1 ORDER BY 1
        """,
        "disjunctive_revenue": """
            SELECT round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "embedding_quantize": """
            SELECT vec_id,
                   round((mx / 127.0) + 1e-10, 6) AS scale,
                   array_to_string(
                       -- r9: guard on the SCALE, not mx — mx/127 itself
                       -- UNDERFLOWS to 0 for subnormal vectors (mx ~
                       -- 5e-324), which under ANSI raised DIVIDE_BY_ZERO
                       -- on the Spark side; values below quantization
                       -- resolution code to 0 like the all-zero case
                       [CASE WHEN mx / 127.0 = 0 THEN 0
                             ELSE CAST(floor(v[i+1] / (mx / 127.0) + 0.5)
                                       AS BIGINT)
                        END for i in range(64)], ',') AS q
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                         list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x))) AS mx
                  FROM embeddings
                  WHERE embedding IS NOT NULL
                    AND len(list_filter(embedding,
                            x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
        """,
        "embedding_ivf_portable": """
            WITH clean AS MATERIALIZED (
                -- junk filter BEFORE any list_dot_product: DuckDB
                -- inlines CTEs and reorders conjuncts, and its dot
                -- product ERRORS (not NULLs) on a NULL element, so the
                -- barrier is what guarantees filter-before-arithmetic
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), n AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                FROM clean
                WHERE list_dot_product(v, v) > 0
            ), cent AS (
                SELECT vec_id AS cell, v AS c FROM n WHERE vec_id < 16
            ), dists AS (
                SELECT n.vec_id, n.v, n.nrm, cent.cell,
                       list_dot_product(
                           [n.v[i+1] - cent.c[i+1] for i in range(64)],
                           [n.v[i+1] - cent.c[i+1] for i in range(64)]) AS d2
                FROM n, cent
            ), assigned AS (
                SELECT vec_id, v, nrm, cell FROM (
                    SELECT vec_id, v, nrm, cell,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2 ASC, cell ASC) AS rn
                    FROM dists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell FROM (
                    SELECT vec_id, v, nrm, cell,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2 ASC, cell ASC) AS rn
                    FROM dists) WHERE rn <= 4
            ), scored AS (
                SELECT p.query_id, a.vec_id AS corpus_id,
                       list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) AS cos
                FROM assigned a JOIN probes p
                  ON a.cell = p.cell AND a.vec_id != p.query_id
            ), ranked AS (
                SELECT query_id, corpus_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, corpus_id ASC) AS rn
                FROM scored
            )
            SELECT query_id, corpus_id, round((cos) + 1e-10, 6) AS cosine
            FROM ranked WHERE rn <= 3
        """,
        "contamination": """
            WITH corp AS (
                SELECT doc_id, string_split_regex(text, ' +') AS rt
                FROM documents WHERE doc_id % 97 <> 0
            ), bench AS (
                SELECT string_split_regex(text, ' +') AS rt
                FROM documents WHERE doc_id % 97 = 0
            ), c_sh AS (
                SELECT DISTINCT doc_id, g AS shingle FROM (
                    SELECT doc_id,
                           unnest([array_to_string(rt[i:i+2], ' ')
                                   for i in range(1, len(rt) - 3 + 2)]) AS g
                    FROM corp)
            ), b_sh AS (
                SELECT DISTINCT g AS shingle FROM (
                    SELECT unnest([array_to_string(rt[i:i+2], ' ')
                                   for i in range(1, len(rt) - 3 + 2)]) AS g
                    FROM bench)
            ), totals AS (
                SELECT doc_id, count(*) AS n_shingles FROM c_sh GROUP BY 1
            ), hits AS (
                SELECT doc_id, count(*) AS n_cont FROM c_sh
                WHERE shingle IN (SELECT shingle FROM b_sh) GROUP BY 1
            )
            SELECT t.doc_id, t.n_shingles,
                   COALESCE(h.n_cont, 0) AS n_contaminated,
                   round((COALESCE(h.n_cont, 0) / greatest(t.n_shingles, 1))
                         + 1e-08, 4) AS contamination
            FROM totals t LEFT JOIN hits h USING (doc_id)
        """,
        "sketch_mergeable": """
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
            FROM events
        """,
        "tokens_to_ids": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                           AS token,
                       generate_subscripts(
                           string_split_regex(lower(trim(text)), '[\\s\\x0b]+'), 1)
                           AS pos
                FROM documents
            ), vocab AS (
                SELECT token,
                       row_number() OVER (ORDER BY count(*) DESC, token ASC)
                           AS token_id
                FROM toks GROUP BY token
                QUALIFY token_id <= 100
            )
            SELECT t.doc_id,
                   array_to_string(
                       list(COALESCE(v.token_id, 0) ORDER BY t.pos),
                       ',') AS token_ids
            FROM toks t LEFT JOIN vocab v USING (token)
            GROUP BY t.doc_id
        """,
        "pack_documents": """
            WITH base AS (
                SELECT doc_id, doc_id % 8 AS shard,
                       len(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                           AS n_tokens
                FROM documents
            ), laid AS (
                SELECT doc_id, shard, n_tokens,
                       COALESCE(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS start
                FROM base
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(start // 512 AS BIGINT) AS pack_id,
                   CAST(start % 512 AS BIGINT) AS pack_offset
            FROM laid
        """,
        "repetition_stats": """
            WITH base AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS lt,
                       string_split_regex(text, ' +') AS rt
                FROM documents
            ), tok_rows AS (
                SELECT doc_id, unnest(lt) AS tok FROM base
            ), per_tok AS (
                SELECT doc_id, tok, count(*) AS c FROM tok_rows GROUP BY 1, 2
            ), tok_stats AS (
                SELECT doc_id, count(*) AS n_distinct, max(c) AS top_c,
                       CAST(sum(c) AS BIGINT) AS n_tokens
                FROM per_tok GROUP BY 1
            ), gram_stats AS (
                SELECT doc_id,
                       greatest(len(rt) - 2, 0) AS n3,
                       len(list_distinct([array_to_string(rt[i:i+2], ' ')
                                          for i in range(1, len(rt) - 3 + 2)])) AS nd3
                FROM base
            )
            -- LEFT joins + coalesce: a NULL-text doc has no token rows
            -- but must still emit (0 tokens, NULL fractions, 0.0 dup3),
            -- matching the engine's left-join + coalesce semantics
            SELECT b.doc_id, coalesce(t.n_tokens, 0) AS r_n_tokens,
                   round((t.n_distinct
                          / greatest(coalesce(t.n_tokens, 0), 1))
                         + 1e-08, 4)
                       AS r_distinct_token_fraction,
                   round((t.top_c / greatest(coalesce(t.n_tokens, 0), 1))
                         + 1e-08, 4)
                       AS r_top_token_fraction,
                   round((CASE WHEN coalesce(g.n3, 0) = 0 THEN 0.0
                               ELSE 1.0 - g.nd3 / g.n3 END) + 1e-08, 4)
                       AS r_dup_3gram_fraction
            FROM base b
            LEFT JOIN tok_stats t USING (doc_id)
            LEFT JOIN gram_stats g USING (doc_id)
        """,
        "pii_scrub": """
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       substr(text, 1, 40) || ' contact user' ||
                       CAST(doc_id AS VARCHAR) ||
                       '@mail.example.com see https://ex.org/d/' ||
                       CAST(doc_id AS VARCHAR) || ' ref 123456789 end',
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^\\s\\x0b]+', '<URL>', 'g'),
                       '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
            FROM documents
        """,
        "sessionize": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), grp AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), sess AS (
                SELECT user_id, min(ts) AS session_start,
                       max(ts) AS session_end,
                       count(*) AS n_events,
                       round((sum(value)) + 1e-06, 2) AS sum_value
                FROM grp GROUP BY user_id, sid
            )
            -- the stateful operator emits only CLOSED sessions: every
            -- non-final session per user (closed inline by the next event)
            -- plus the final one iff the end-of-stream watermark
            -- (max ts - 10 min) STRICTLY passed last_event + 30 min gap
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM sess
            WHERE session_end < (SELECT max(session_end) FROM sess s2
                                 WHERE s2.user_id = sess.user_id)
               OR session_end + INTERVAL 30 MINUTE
                  < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
        """,
        "simhash_md5_pairs": """
            WITH base AS (
                SELECT doc_id, string_split_regex(text, ' +') AS rt
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct([array_to_string(rt[i:i+1], ' ')
                                      for i in range(1, len(rt) - 2 + 2)]) AS gs
                FROM base
            ), hrows AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) AS h
                FROM grams, unnest(gs) AS t(g)
            ), per_bit AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM hrows, range(32) r(b)
                GROUP BY 1, 2
            ), fp AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM per_bit GROUP BY 1
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM fp a JOIN fp b
              ON (a.simhash >> 24) = (b.simhash >> 24)
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "doc_fingerprint_md5": """
            SELECT doc_id,
                   CASE WHEN len(toks) >= 5
                        THEN list_min([md5(array_to_string(toks[i:i+4], ' '))
                                       for i in range(1, len(toks) - 5 + 2)])
                        ELSE md5(lower(trim(text))) END AS fingerprint
            FROM (SELECT doc_id, text,
                         string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS toks
                  FROM documents)
        """,
        "volume_shipping": """
            SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE cn.n_name != sn.n_name
            GROUP BY 1, 2
        """,
        "small_qty_revenue": """
            SELECT round((sum(l_extendedprice) / 7.0) + 1e-06, 2) AS avg_yearly,
                   count(*) AS n_small
            FROM lineitem l
            WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                                FROM lineitem i
                                WHERE i.l_partkey = l.l_partkey)
        """,
        "late_supplier_blame": """
            WITH l AS (
                SELECT l_orderkey, l_suppkey,
                       (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
            SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS numwait
            FROM l l1
            WHERE l1.late
              AND EXISTS (SELECT 1 FROM l l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM l l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.late)
            GROUP BY 1
        """,
        "top_supplier": """
            WITH rev AS (
                SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
                GROUP BY 1
            )
            SELECT l_suppkey, round((r) + 1e-06, 2) AS total_rev
            FROM rev WHERE r = (SELECT max(r) FROM rev)
        """,
        "grouping_sets": """
            SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS cnt,
                   round((sum(value)) + 1e-06, 2) AS sum_value,
                   CAST(grouping(event_type) AS INTEGER) AS g_et,
                   CAST(grouping(CAST(ts AS DATE)) AS INTEGER) AS g_date
            FROM events
            GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), errors AS (
                SELECT event_id AS err_event_id, user_id, ts AS err_ts
                FROM events WHERE event_type = 'error'
            )
            SELECT c.event_id, c.user_id, c.ts, e.err_event_id, e.err_ts
            FROM clicks c ASOF LEFT JOIN errors e
              ON c.user_id = e.user_id AND c.ts >= e.err_ts
        """,
        "quantiles": """
            SELECT event_type,
                   round((quantile_cont(value, 0.5)) + 1e-08, 4) AS p50,
                   round((quantile_cont(value, 0.9)) + 1e-08, 4) AS p90
            FROM events GROUP BY 1
        """,
        "string_funcs": """
            SELECT event_id,
                   upper(event_type) AS et_upper,
                   substring(event_type, 1, 3) AS et_prefix,
                   lpad(CAST(user_id AS VARCHAR), 6, '0') AS uid_padded,
                   event_type || '|' || CAST(user_id AS VARCHAR) AS et_uid,
                   regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str
            FROM events
        """,
        "unigram_surprisal": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token
                FROM documents
            ), counts AS (
                SELECT token, count(*) AS tf FROM tok GROUP BY 1
            ), tot AS (
                SELECT sum(tf)::DOUBLE AS n_total FROM counts
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round((avg(-log2(tf / n_total))) + 1e-08, 4) AS surprisal
            FROM tok JOIN counts USING (token) CROSS JOIN tot
            GROUP BY doc_id
        """,
        "mixture_sample": """
            WITH counts AS (
                SELECT lang, count(*) AS c,
                       (CASE lang WHEN 'en' THEN 0.5
                                  WHEN 'de' THEN 0.125 WHEN 'fr' THEN 0.125
                                  WHEN 'es' THEN 0.125 WHEN 'zh' THEN 0.125
                        END)::DOUBLE AS w
                FROM documents GROUP BY 1
            ), t AS (
                SELECT min(c / w) AS T FROM counts WHERE w IS NOT NULL
            ), quotas AS (
                SELECT lang, CAST(floor(T * w) AS BIGINT) AS quota
                FROM counts CROSS JOIN t WHERE w IS NOT NULL
            ), ranked AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 ASC,
                                    doc_id ASC) AS rk
                FROM documents
            )
            SELECT doc_id, lang
            FROM ranked JOIN quotas USING (lang)
            WHERE rk <= quota
        """,
        "dedup_survivors": """
            WITH RECURSIVE n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
                WHERE list_dot_product(v, v) > 0
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nn a JOIN nn b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM sym)
                UNION
                SELECT s.s, reach.r FROM sym s JOIN reach ON reach.id = s.d
            ), labels AS (
                SELECT id, min(r) AS canonical_id FROM reach GROUP BY id
            ), sizes AS (
                SELECT canonical_id, count(*) AS n_members
                FROM labels GROUP BY 1
            )
            SELECT e.vec_id, coalesce(z.n_members, 1) AS n_members
            FROM embeddings e
            LEFT JOIN (
                SELECT l.id, s.n_members
                FROM labels l JOIN sizes s USING (canonical_id)
                WHERE l.id = l.canonical_id
            ) z ON e.vec_id = z.id
            WHERE e.vec_id NOT IN
                  (SELECT id FROM labels WHERE id != canonical_id)
        """,
        "temperature_mixture": """
            WITH counts AS (
                SELECT lang, count(*) AS c FROM documents
                WHERE lang IS NOT NULL GROUP BY 1
            ), raw AS (
                SELECT lang, c, sqrt(c) AS r FROM counts
            ), tot AS (
                SELECT sum(r) AS s FROM raw
            ), shares AS (
                -- shares snapped to the 2^-20 binary grid with floor(),
                -- mirroring the contract query exactly (see its docstring)
                SELECT lang, c,
                       floor(r / s * 1048576 + 0.5) / 1048576 AS w
                FROM raw CROSS JOIN tot
            ), t AS (
                SELECT min(c / w) AS T FROM shares
            ), quotas AS (
                SELECT lang, CAST(floor(T * w) AS BIGINT) AS quota
                FROM shares CROSS JOIN t
            ), ranked AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 ASC,
                                    doc_id ASC) AS rk
                FROM documents
            )
            SELECT doc_id, lang
            FROM ranked JOIN quotas USING (lang)
            WHERE rk <= quota
        """,
        "semantic_dedup": """
            WITH RECURSIVE n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding, x -> x <> 0)) > 0
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), cent AS (
                -- deterministic-subset centers: the cells_for(count)
                -- smallest valid ids; __CELLS__ is substituted by
                -- _semantic_dedup_oracle() from the parquet footer row
                -- count (the planes_for pattern — at the contract scale
                -- of 500 vectors the rule yields the r7-pinned 16)
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                       v AS c
                FROM n ORDER BY vec_id LIMIT __CELLS__
            ), dists AS (
                SELECT n.vec_id, n.v, cent.cell,
                       list_dot_product(
                           [n.v[i+1] - cent.c[i+1] for i in range(64)],
                           [n.v[i+1] - cent.c[i+1] for i in range(64)]) AS d2
                FROM n, cent
            ), assigned AS (
                SELECT vec_id, v, cell, sqrt(list_dot_product(v, v)) AS nrm
                FROM (SELECT vec_id, v, cell,
                             row_number() OVER (PARTITION BY vec_id
                                                ORDER BY d2 ASC, cell ASC)
                             AS rn
                      FROM dists) WHERE rn = 1
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE a.nrm > 0 AND b.nrm > 0
                  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM sym)
                UNION
                SELECT s.s, reach.r FROM sym s JOIN reach ON reach.id = s.d
            ), labels AS (
                SELECT id, min(r) AS canonical_id FROM reach GROUP BY id
            )
            SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell
            FROM assigned a
            WHERE a.vec_id NOT IN
                  (SELECT id FROM labels WHERE id != canonical_id)
        """,
        "semantic_dedup_probed": """
            WITH RECURSIVE n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding, x -> x <> 0)) > 0
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                       v AS c
                FROM n ORDER BY vec_id LIMIT __CELLS__
            ), dists AS (
                SELECT n.vec_id, n.v, cent.cell,
                       list_dot_product(
                           [n.v[i+1] - cent.c[i+1] for i in range(64)],
                           [n.v[i+1] - cent.c[i+1] for i in range(64)]) AS d2
                FROM n, cent
            ), probes AS (
                -- n_probe=2: each vector participates in pair generation
                -- in its 2 nearest cells (ties -> lowest cell); rn=1 is
                -- the primary assignment the survivors report
                SELECT vec_id, v, cell, rn,
                       sqrt(list_dot_product(v, v)) AS nrm
                FROM (SELECT vec_id, v, cell,
                             row_number() OVER (PARTITION BY vec_id
                                                ORDER BY d2 ASC, cell ASC)
                             AS rn
                      FROM dists) WHERE rn <= 2
            ), pairs AS (
                -- a pair sharing two probe cells materializes once
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM probes a JOIN probes b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE a.nrm > 0 AND b.nrm > 0
                  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM sym)
                UNION
                SELECT s.s, reach.r FROM sym s JOIN reach ON reach.id = s.d
            ), labels AS (
                SELECT id, min(r) AS canonical_id FROM reach GROUP BY id
            )
            SELECT p.vec_id, CAST(p.cell AS BIGINT) AS cell
            FROM probes p
            WHERE p.rn = 1
              AND p.vec_id NOT IN
                  (SELECT id FROM labels WHERE id != canonical_id)
        """,
        "embedding_covariance": """
            WITH e AS (
                SELECT vec_id, CAST(i AS INTEGER) AS i,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
            )
            SELECT a.i AS i, b.i AS j,
                   round((covar_samp(a.x, b.x)) + 1e-08, 4) + 0.0 AS cov
            FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY 1, 2
        """,
        "pca_invariants": """
            WITH valid AS (
                SELECT vec_id, embedding FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding, x -> x <> 0)) > 0
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), e AS (
                SELECT vec_id, CAST(i AS INTEGER) AS i,
                       embedding[i]::DOUBLE AS x
                FROM valid CROSS JOIN range(1, 65) r(i)
            ), mu AS (
                SELECT i, avg(x) AS m FROM e GROUP BY 1
            )
            SELECT e.vec_id,
                   round((sum((e.x - mu.m) * (e.x - mu.m))) + 1e-08, 4)
                   + 0.0 AS pnorm2
            FROM e JOIN mu ON e.i = mu.i
            GROUP BY 1
        """,
        "heavy_hitters": """
            WITH tok AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token
                FROM documents
            ), tot AS (
                SELECT count(*) AS total FROM tok WHERE token IS NOT NULL
            )
            SELECT token, count(*) AS n
            FROM tok CROSS JOIN tot
            WHERE token IS NOT NULL
            GROUP BY token, tot.total
            HAVING count(*) > 0.03 * tot.total
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 < 3435973836
                             THEN 'train'
                        WHEN (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 < 3865470566
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "bpe_pair_counts": """
            WITH lst AS (
                SELECT string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS t
                FROM documents
            ), idx AS (
                SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM lst
            ), pairs AS (
                SELECT t[i] AS a, t[i + 1] AS b FROM idx
            ), counts AS (
                SELECT a, b, count(*) AS n FROM pairs GROUP BY 1, 2
            )
            SELECT CAST(rank AS INTEGER) AS rank, a, b, n FROM (
                SELECT a, b, n,
                       row_number() OVER (ORDER BY n DESC, a ASC, b ASC)
                       AS rank
                FROM counts
            ) WHERE rank <= 50
        """,
        "embedding_standardize": """
            WITH e AS (
                SELECT vec_id, CAST(i AS INTEGER) AS i,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), s AS (
                SELECT i, avg(x) AS mu, stddev_samp(x) AS sd
                FROM e GROUP BY 1
            )
            SELECT vec_id,
                   array_to_string(
                       list(CAST(floor(
                           (CASE WHEN sd > 0
                                 THEN round(((x - mu) / sd) + 1e-08, 4) + 0.0
                                 ELSE 0.0 END) * 10000 + 0.5) AS BIGINT)
                            ORDER BY i), ',') AS zq
            FROM e JOIN s USING (i)
            GROUP BY vec_id
        """,
        "centroid_classify": """
            WITH e AS (
                SELECT vec_id, label, CAST(i AS INTEGER) AS pos,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), c AS (
                SELECT label, pos, avg(x) AS mu
                FROM e WHERE label IS NOT NULL GROUP BY 1, 2
            ), d AS (
                SELECT e.vec_id, c.label,
                       round((sum((e.x - c.mu) * (e.x - c.mu))) + 1e-10, 6)
                       AS dist
                FROM e JOIN c USING (pos)
                GROUP BY 1, 2
            )
            SELECT vec_id, label AS pred_label, dist FROM (
                SELECT vec_id, label, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist ASC, label ASC) AS rn
                FROM d
            ) WHERE rn = 1
        """,
        "classify_eval": """
            WITH e AS (
                SELECT vec_id, label, CAST(i AS INTEGER) AS pos,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), c AS (
                SELECT label, pos, avg(x) AS mu
                FROM e WHERE label IS NOT NULL GROUP BY 1, 2
            ), d AS (
                SELECT e.vec_id, c.label,
                       round((sum((e.x - c.mu) * (e.x - c.mu))) + 1e-10, 6)
                       AS dist
                FROM e JOIN c USING (pos)
                GROUP BY 1, 2
            ), pred AS (
                SELECT vec_id, label AS pred_label FROM (
                    SELECT vec_id, label, dist,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist ASC, label ASC)
                           AS rn
                    FROM d
                ) WHERE rn = 1
            )
            SELECT t.label, p.pred_label, count(*) AS n
            FROM pred p JOIN embeddings t USING (vec_id)
            GROUP BY 1, 2
        """,
        "source_kl": """
            WITH tok AS (
                SELECT source,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token
                FROM documents
            ), gt AS (
                SELECT source, token, count(*) AS c_gt
                FROM tok GROUP BY 1, 2
            ), g_tot AS (
                SELECT source, sum(c_gt) AS n_g FROM gt GROUP BY 1
            ), t_tot AS (
                SELECT token, sum(c_gt) AS c_t FROM gt GROUP BY 1
            ), n AS (
                SELECT sum(c_t) AS n_total FROM t_tot
            )
            SELECT gt.source, CAST(max(n_g) AS BIGINT) AS n_tokens,
                   round((sum((c_gt * 1.0 / n_g) *
                              log2((c_gt * 1.0 / n_g) /
                                   (c_t * 1.0 / n_total)))) + 1e-08, 4)
                   AS kl
            FROM gt
            JOIN t_tot USING (token)
            JOIN g_tot USING (source)
            CROSS JOIN n
            GROUP BY 1
        """,
        "quality_gate": """
            WITH base AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS lt,
                       string_split_regex(text, ' +') AS rt
                FROM documents
            ), tok_rows AS (
                SELECT doc_id, unnest(lt) AS tok FROM base
            ), per_tok AS (
                SELECT doc_id, tok, count(*) AS c FROM tok_rows GROUP BY 1, 2
            ), tok_stats AS (
                SELECT doc_id, max(c) AS tc, CAST(sum(c) AS BIGINT) AS n
                FROM per_tok GROUP BY 1
            ), idx AS (
                SELECT doc_id, rt,
                       unnest(generate_series(1, len(rt) - 2)) AS i
                FROM base
            ), sh AS (
                SELECT doc_id, rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2]
                       AS s
                FROM idx
            ), gram_stats AS (
                SELECT doc_id, count(*) AS n3, count(DISTINCT s) AS nd3
                FROM sh GROUP BY 1
            ), cnts AS (
                SELECT tok, count(*) AS tf FROM tok_rows GROUP BY 1
            ), tot AS (
                SELECT sum(tf)::DOUBLE AS n_total FROM cnts
            ), sur AS (
                SELECT doc_id,
                       round((avg(-log2(tf / n_total))) + 1e-08, 4) AS s
                FROM tok_rows JOIN cnts USING (tok) CROSS JOIN tot
                GROUP BY doc_id
            ), feats AS (
                -- drive from ALL documents: a NULL-text doc has no token
                -- rows but must still emit (0 tokens -> 'too_short'),
                -- matching the engine's coalesce-to-0 semantics
                SELECT d.doc_id, coalesce(t.n, 0) AS n,
                       round((coalesce(1.0 - g.nd3 * 1.0 / g.n3, 0.0))
                             + 1e-08, 4) AS dup3,
                       round((coalesce(t.tc, 0) * 1.0
                              / greatest(coalesce(t.n, 0), 1))
                             + 1e-08, 4) AS topf,
                       coalesce(s.s, 0.0) AS sv
                FROM documents d
                LEFT JOIN tok_stats t USING (doc_id)
                LEFT JOIN gram_stats g USING (doc_id)
                LEFT JOIN sur s USING (doc_id)
            )
            SELECT doc_id, n_tokens, reason,
                   CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS keep
            FROM (
                SELECT doc_id, n AS n_tokens,
                       CASE WHEN n < 30 THEN 'too_short'
                            WHEN dup3 > 0.03 THEN 'repetitive'
                            WHEN topf > 0.15 THEN 'dominated'
                            WHEN sv < 4.9 THEN 'low_surprisal'
                            WHEN sv > 5.2 THEN 'high_surprisal'
                            ELSE 'ok' END AS reason
                FROM feats
            )
        """,
        "kmeans_step": """
            WITH e AS (
                SELECT vec_id, CAST(i AS INTEGER) AS pos,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), seeds AS (
                SELECT vec_id AS label, pos, x AS mu
                FROM e WHERE vec_id % 100 = 0
            ), d AS (
                SELECT e.vec_id, s.label,
                       round((sum((e.x - s.mu) * (e.x - s.mu))) + 1e-10, 6)
                       AS dist
                FROM e JOIN seeds s USING (pos)
                GROUP BY 1, 2
            ), assign AS (
                SELECT vec_id, label FROM (
                    SELECT vec_id, label,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist ASC, label ASC)
                           AS rn
                    FROM d
                ) WHERE rn = 1
            )
            SELECT a.label AS center_id, e.pos,
                   round((avg(e.x)) + 1e-08, 4) + 0.0 AS mu
            FROM e JOIN assign a USING (vec_id)
            GROUP BY 1, 2
        """,
        "embedding_outliers": """
            WITH e AS (
                SELECT vec_id, CAST(i AS INTEGER) AS pos,
                       embedding[i]::DOUBLE AS x
                FROM embeddings CROSS JOIN range(1, 65) r(i)
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
            ), s AS (
                SELECT pos, avg(x) AS mu, stddev_samp(x) AS sd
                FROM e GROUP BY 1
            )
            SELECT vec_id,
                   round((sum(CASE WHEN sd > 0
                                   THEN ((x - mu) / sd) * ((x - mu) / sd)
                                   ELSE 0.0 END)) + 1e-08, 4) AS score
            FROM e JOIN s USING (pos)
            GROUP BY 1
            ORDER BY score DESC, vec_id ASC
            LIMIT 20
        """,
        "skew_diagnostics": """
            WITH c AS (
                SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS n
                FROM lineitem GROUP BY 1
            ), s AS (
                SELECT count(*) AS n_keys, sum(n) AS total,
                       max(n) AS max_n, avg(n) AS avg_n
                FROM c
            )
            SELECT CAST(rank AS INTEGER) AS rank, key, n,
                   round((n * 1.0 / total) + 1e-10, 6) AS share,
                   CAST(n_keys AS BIGINT) AS n_keys,
                   round((max_n * 1.0 / avg_n) + 1e-08, 4) AS skew_factor
            FROM (
                SELECT key, n,
                       row_number() OVER (ORDER BY n DESC, key ASC) AS rank
                FROM c
            ) CROSS JOIN s
            WHERE rank <= 10
        """,
        "scd2_history": """
            WITH t AS (
                -- NULL-ts observations dropped; first row kept via rn
                -- (NOT lag IS NULL — a NULL attr in the previous row
                -- would mis-read as 'first'); change = IS DISTINCT FROM
                -- (NULL-safe, matching Spark's struct eqNullSafe) —
                -- semantics pinned r7, see scd.scd2_history docstring
                SELECT user_id, ts, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_type NULLS FIRST)
                       AS prev,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_type NULLS FIRST) AS rn
                FROM events WHERE ts IS NOT NULL
            ), c AS (
                SELECT user_id, ts, event_type
                FROM t WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            )
            SELECT user_id, event_type, ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   CASE WHEN lead(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_current
            FROM c
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type NULLS FIRST)
""",
        "join_cardinality": """
            WITH l AS (
                SELECT l_orderkey AS k, count(*) AS n
                FROM lineitem GROUP BY 1
            ), r AS (
                SELECT o_orderkey AS k, count(*) AS n
                FROM orders GROUP BY 1
            ), j AS (
                SELECT l.n AS ln, r.n AS rn FROM l JOIN r USING (k)
            )
            SELECT (SELECT CAST(sum(n) AS BIGINT) FROM l) AS left_rows,
                   (SELECT CAST(sum(n) AS BIGINT) FROM r) AS right_rows,
                   (SELECT count(*) FROM j) AS matching_keys,
                   CAST(coalesce((SELECT sum(ln * rn) FROM j), 0)
                        AS BIGINT) AS join_rows
        """,
        "funnel": """
            WITH s1 AS (
                SELECT user_id AS u, min(ts) AS t
                FROM events WHERE event_type = 'click' GROUP BY 1
            ), s2 AS (
                SELECT e.user_id AS u, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
                WHERE e.event_type = 'view' GROUP BY 1
            ), s3 AS (
                SELECT e.user_id AS u, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
                WHERE e.event_type = 'purchase' GROUP BY 1
            ), c AS (
                SELECT 1 AS step_order, 'click' AS step,
                       (SELECT count(*) FROM s1) AS n_users
                UNION ALL
                SELECT 2, 'view', (SELECT count(*) FROM s2)
                UNION ALL
                SELECT 3, 'purchase', (SELECT count(*) FROM s3)
            )
            SELECT CAST(step_order AS INTEGER) AS step_order, step, n_users,
                   round((n_users * 1.0 /
                          greatest((SELECT count(*) FROM s1), 1))
                         + 1e-08, 4) AS conversion
            FROM c
        """,
        "cohort_retention": """
            WITH firsts AS (
                SELECT user_id AS u, min(ts) AS f FROM events GROUP BY 1
            ), cohorts AS (
                SELECT u, date_trunc('week', f) AS cw FROM firsts
            ), acts AS (
                SELECT DISTINCT e.user_id AS u, c.cw,
                       CAST(floor(date_diff('day', CAST(c.cw AS DATE),
                                            CAST(e.ts AS DATE)) / 7)
                            AS INTEGER) AS k
                FROM events e JOIN cohorts c ON e.user_id = c.u
            )
            SELECT CAST(cw AS DATE) AS cohort_week, k, count(*) AS n_users
            FROM acts WHERE k <= 8
            GROUP BY 1, 2
        """,
        "expectations": """
            WITH base AS (
                SELECT count(*) AS n,
                       count(CASE WHEN user_id IS NULL THEN 1 END) AS v0,
                       count(CASE WHEN value IS NOT NULL
                                   AND (value < 0 OR value > 100)
                             THEN 1 END) AS v1,
                       count(CASE WHEN event_type IS NOT NULL
                                   AND event_type NOT IN
                                       ('click','view','purchase',
                                        'signup','error')
                             THEN 1 END) AS v2,
                       count(CASE WHEN props IS NOT NULL
                                   AND NOT regexp_matches(props, '^\\{')
                             THEN 1 END) AS v3,
                       count(event_id) - count(DISTINCT event_id) AS v4
                FROM events
            )
            SELECT rule, "column", n AS n_rows,
                   CAST(n_violations AS BIGINT) AS n_violations,
                   CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
            FROM (
                SELECT 'not_null(user_id)' AS rule, 'user_id' AS "column",
                       v0 AS n_violations, n FROM base
                UNION ALL
                SELECT 'between(value,0,100)', 'value', v1, n FROM base
                UNION ALL
                SELECT 'in_set(event_type)', 'event_type', v2, n FROM base
                UNION ALL
                SELECT 'matches(props)', 'props', v3, n FROM base
                UNION ALL
                SELECT 'unique(event_id)', 'event_id', v4, n FROM base
            )
        """,
        "token_pmi": """
            WITH tok AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token
                FROM documents
            ), alltok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\s\\x0b]+'))
                       AS token
                FROM documents
            ), counts AS (
                SELECT token, count(*) AS c FROM alltok GROUP BY 1
            ), vocab AS (
                SELECT token FROM (
                    SELECT token,
                           row_number() OVER (ORDER BY c DESC, token ASC)
                           AS rk
                    FROM counts
                ) WHERE rk <= 50
            ), t AS (
                SELECT doc_id, token FROM tok
                WHERE token IN (SELECT token FROM vocab)
            ), nd AS (
                SELECT count(DISTINCT doc_id) AS n FROM documents
            ), dfreq AS (
                SELECT token, count(*) AS df FROM t GROUP BY 1
            ), co AS (
                SELECT x.token AS a, y.token AS b, count(*) AS co
                FROM t x JOIN t y
                  ON x.doc_id = y.doc_id AND x.token < y.token
                GROUP BY 1, 2
            )
            SELECT CAST(rank AS INTEGER) AS rank, a, b, co, pmi FROM (
                SELECT a, b, co,
                       round((log2((co * 1.0 * nd.n) /
                                   (da.df * 1.0 * db.df))) + 1e-08, 4)
                       AS pmi,
                       row_number() OVER (
                           ORDER BY round((log2((co * 1.0 * nd.n) /
                                          (da.df * 1.0 * db.df)))
                                          + 1e-08, 4) DESC,
                                    a ASC, b ASC) AS rank
                FROM co
                JOIN dfreq da ON da.token = co.a
                JOIN dfreq db ON db.token = co.b
                CROSS JOIN nd
                WHERE co >= 2
            ) WHERE rank <= 30
        """,
        "pagerank_step": """
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                FROM n WHERE list_dot_product(v, v) > 0
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nn a JOIN nn b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), nodes AS (
                SELECT DISTINCT src AS id FROM sym
            ), nc AS (
                SELECT count(*) AS n FROM nodes
            ), deg AS (
                SELECT src, count(*) AS d FROM sym GROUP BY 1
            ), contrib AS (
                SELECT s.dst AS id, sum((1.0 / nc.n) / g.d) AS sm
                FROM sym s JOIN deg g ON g.src = s.src CROSS JOIN nc
                GROUP BY 1
            )
            SELECT nodes.id,
                   round((0.15 / nc.n +
                          0.85 * coalesce(c.sm, 0.0)) + 1e-10, 6) + 0.0
                   AS rank
            FROM nodes
            LEFT JOIN contrib c ON c.id = nodes.id
            CROSS JOIN nc
        """,
        "equi_depth_histogram": """
            -- r7 non-finite pin: boundaries over FINITE values only (a
            -- NaN poisons quantile_cont in both engines); non-finite
            -- rows still bucket — both engines compare NaN > +Inf >
            -- finite > -Inf
            WITH b AS (
                SELECT list_transform(
                           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                                 0.6, 0.7, 0.8, 0.9]),
                           x -> round(x + 1e-10, 6)) AS bnds
                FROM events WHERE value IS NOT NULL AND isfinite(value)
            )
            SELECT CAST(len(list_filter(bnds, t -> value > t)) AS INTEGER)
                       AS bucket,
                   count(*) AS n_rows
            FROM events CROSS JOIN b
            WHERE value IS NOT NULL
            GROUP BY 1
        """,
        "bigram_surprisal": """
            WITH lst AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '[\\s\\x0b]+') AS t
                FROM documents
            ), idx AS (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 1)) AS i
                FROM lst
            ), pairs AS (
                SELECT doc_id, t[i] AS a, t[i + 1] AS b FROM idx
            ), counts AS (
                SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2
            ), heads AS (
                SELECT a, sum(c_ab) AS c_a FROM counts GROUP BY 1
            )
            SELECT p.doc_id, count(*) AS n_bigrams,
                   round((avg(-log2(c.c_ab * 1.0 / h.c_a))) + 1e-08, 4)
                   AS surprisal
            FROM pairs p
            JOIN counts c USING (a, b)
            JOIN heads h USING (a)
            GROUP BY 1
        """,
        "pit_join": """
            WITH t AS (
                -- same pinned NULL semantics as the scd2_history oracle
                SELECT user_id, ts, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_type NULLS FIRST)
                       AS prev,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_type NULLS FIRST) AS rn
                FROM events WHERE ts IS NOT NULL
            ), c AS (
                SELECT user_id, ts, event_type
                FROM t WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            ), dim AS (
                SELECT user_id, ts AS valid_from,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_type NULLS FIRST) AS valid_to
                FROM c
            )
            SELECT e.event_id, d.valid_from
            FROM events e
            JOIN dim d ON e.user_id = d.user_id
                      AND e.ts >= d.valid_from
                      AND (d.valid_to IS NULL OR e.ts < d.valid_to)
        """,
        "entity_match": """
            SELECT c_custkey, s_suppkey, distance FROM (
                SELECT c.c_custkey, s.s_suppkey,
                       levenshtein(c.c_name, s.s_name) AS distance,
                       row_number() OVER (
                           PARTITION BY c.c_custkey
                           ORDER BY levenshtein(c.c_name, s.s_name) ASC,
                                    s.s_suppkey ASC) AS rn
                FROM customer c
                JOIN supplier s ON s.s_nationkey = c.c_nationkey
            ) WHERE rn = 1
        """,
        "weighted_sample": """
            WITH base AS (
                SELECT doc_id, n_chars,
                       round((-log2(((((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296
                                     + 1) / 4294967296.0)
                              / n_chars) + 1e-12, 8) AS key
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, n_chars FROM (
                SELECT doc_id, n_chars,
                       row_number() OVER (ORDER BY key ASC, doc_id ASC)
                       AS rk
                FROM base
            ) WHERE rk <= 100
        """,
        "label_propagation": """
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                FROM n WHERE list_dot_product(v, v) > 0
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nn a JOIN nn b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), seeds AS (
                SELECT vec_id AS id, label FROM embeddings
                WHERE vec_id % 5 = 0
            ), votes AS (
                SELECT s.src AS id, l.label, count(*) AS n
                FROM sym s JOIN seeds l ON l.id = s.dst
                GROUP BY 1, 2
            ), winners AS (
                SELECT id, label FROM (
                    SELECT id, label,
                           row_number() OVER (PARTITION BY id
                                              ORDER BY n DESC, label ASC)
                           AS rk
                    FROM votes
                ) WHERE rk = 1
            )
            SELECT id, label FROM seeds
            UNION ALL
            SELECT id, label FROM winners
            WHERE id NOT IN (SELECT id FROM seeds)
        """,
        "corpus_shuffle": """
            SELECT doc_id,
                   (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 AS shuffle_key
            FROM documents
            ORDER BY 2 ASC, 1 ASC
            LIMIT 100
        """,
        "incremental_dedup": """
            WITH split AS (
                SELECT doc_id, text,
                       (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 < 2147483648
                       AS is_existing
                FROM documents
            ), ls AS (
                SELECT doc_id, is_existing,
                       string_split_regex(text, ' +') AS l
                FROM split
            ), toks AS (
                SELECT doc_id, unnest(l) AS tok,
                       generate_subscripts(l, 1) AS ord
                FROM ls
            ), sh AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok
                       AS shingle
                FROM toks a
                JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
                JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
                GROUP BY 1, 2
            ), mh AS (
                -- the SAME 16-hash md5 minhash family the engine uses:
                -- one md5 per shingle, h1/h2 = its 32-bit halves,
                -- sig_i = min over shingles of (h1 + i*h2) mod 2^32
                SELECT s.doc_id, r.i,
                       min((('0x' || substr(md5(s.shingle), 1, 8))::BIGINT
                            + r.i *
                            ('0x' || substr(md5(s.shingle), 9, 8))::BIGINT)
                           % 4294967296) AS sig
                FROM sh s CROSS JOIN (SELECT range AS i FROM range(16)) r
                GROUP BY 1, 2
            ), cand AS (
                -- band candidacy restated exactly: a new x existing pair
                -- is a candidate iff some band's minhashes collide
                SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
                FROM mh a
                JOIN split sa ON sa.doc_id = a.doc_id AND NOT sa.is_existing
                JOIN mh b ON b.i = a.i AND b.sig = a.sig
                JOIN split sb ON sb.doc_id = b.doc_id AND sb.is_existing
            ), cnt AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
                SELECT c.id_new, c.id_old, count(*) AS i
                FROM cand c
                JOIN sh x ON x.doc_id = c.id_new
                JOIN sh y ON y.doc_id = c.id_old AND y.shingle = x.shingle
                GROUP BY 1, 2
            ), near AS (
                SELECT DISTINCT id_new
                FROM inter
                JOIN cnt na ON na.doc_id = id_new
                JOIN cnt nb ON nb.doc_id = id_old
                WHERE i * 1.0 / (na.n + nb.n - i) >= 0.5
            )
            SELECT n.doc_id,
                   CASE WHEN EXISTS (SELECT 1 FROM split o
                                     WHERE o.is_existing AND o.text = n.text)
                        THEN 1 ELSE 0 END AS dup_exact,
                   CASE WHEN n.doc_id IN (SELECT id_new FROM near)
                        THEN 1 ELSE 0 END AS dup_near,
                   CASE WHEN NOT EXISTS (SELECT 1 FROM split o
                                         WHERE o.is_existing
                                           AND o.text = n.text)
                         AND n.doc_id NOT IN (SELECT id_new FROM near)
                        THEN 1 ELSE 0 END AS admitted
            FROM split n WHERE NOT n.is_existing
        """,
        "token_frequencies": """
            SELECT token, n, CAST(rn AS INTEGER) AS rn FROM (
                SELECT token, count(*) AS n,
                       row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
                FROM (SELECT unnest(string_split_regex(text, ' +')) AS token
                      FROM documents)
                GROUP BY token
            ) WHERE rn <= 20
        """,
        "pivot": """
            SELECT CAST(ts AS DATE) AS date,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
            FROM events GROUP BY 1
        """,
        "window_analytics": """
            SELECT event_id, user_id,
                   lag(value, 1) OVER w AS prev_value,
                   lead(event_type, 1) OVER w AS next_type,
                   first_value(value) OVER w AS first_val,
                   round((percent_rank() OVER w) + 1e-10, 6) AS pr,
                   CAST(ntile(4) OVER w AS INTEGER) AS nt,
                   round((sum(value) OVER (PARTITION BY user_id
                                           ORDER BY ts NULLS FIRST, event_id
                                           ROWS UNBOUNDED PRECEDING)) + 1e-06, 2) AS run_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts NULLS FIRST, event_id)
        """,
        "set_ops": """
            SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'click' AND value > 90
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'error' AND value > 90
        """,
        "unpivot": """
            WITH p AS (
                SELECT CAST(ts AS DATE) AS date,
                       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
                       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
                FROM events GROUP BY 1
            )
            SELECT date, 'n_click' AS metric, n_click AS n FROM p
            UNION ALL SELECT date, 'n_view', n_view FROM p
            UNION ALL SELECT date, 'n_purchase', n_purchase FROM p
            UNION ALL SELECT date, 'n_signup', n_signup FROM p
            UNION ALL SELECT date, 'n_error', n_error FROM p
        """,
        "min_cost_per_part": """
            SELECT l_partkey,
                   round((min(l_extendedprice)) + 1e-06, 2) AS min_price,
                   count(*) AS n_at_min,
                   min(l_suppkey) AS first_supp
            FROM lineitem l
            WHERE l_extendedprice = (SELECT min(l_extendedprice)
                                     FROM lineitem i
                                     WHERE i.l_partkey = l.l_partkey)
            GROUP BY 1
        """,
        "market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round((sum(CASE WHEN n_name = 'NATION_5'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0.0 END)
                          / sum(l_extendedprice * (1 - l_discount))) + 1e-10, 6) AS mkt_share,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2) AS total_rev
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "shipping_priority": """
            WITH agg AS (
                SELECT l_orderkey, o_orderdate, o_orderpriority,
                       round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2)
                           AS revenue
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_shipdate > TIMESTAMP '1998-06-01'
                  AND o_orderdate < TIMESTAMP '1998-06-01'
                  AND o_custkey IN (SELECT c_custkey FROM customer
                                    WHERE c_mktsegment = 'BUILDING')
                GROUP BY 1, 2, 3
            )
            SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM (
                SELECT *, row_number() OVER (ORDER BY revenue DESC,
                                             l_orderkey ASC) AS rn
                FROM agg
            ) WHERE rn <= 10
        """,
        "order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1997-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY 1
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "revenue_change": """
            SELECT round((sum(l_extendedprice * l_discount)) + 1e-06, 2)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 10
        """,
        "returned_items": """
            WITH agg AS (
                SELECT c_custkey, c_name, c_acctbal, n_name,
                       round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2)
                           AS revenue
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1997-07-01'
                  AND o_orderdate <  TIMESTAMP '1997-10-01'
                GROUP BY 1, 2, 3, 4
            )
            SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
                SELECT *, row_number() OVER (ORDER BY revenue DESC,
                                             c_custkey ASC) AS rn
                FROM agg
            ) WHERE rn <= 20
        """,
        "customer_distribution": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                                AND o_orderpriority <> '1-URGENT'
                GROUP BY 1
            )
            SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY 1
        """,
        "promo_revenue": """
            SELECT round((100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                           THEN l_extendedprice * (1 - l_discount)
                                           ELSE 0.0 END)
                          / sum(l_extendedprice * (1 - l_discount))) + 1e-10, 6)
                       AS promo_pct,
                   round((sum(l_extendedprice * (1 - l_discount))) + 1e-06, 2)
                       AS total_rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-09-01'
              AND l_shipdate <  TIMESTAMP '1997-10-01'
        """,
        "supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON l_partkey = p_partkey
            WHERE p_size <= 25
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "large_volume_customer": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   round((total_qty) + 1e-06, 2) AS total_qty
            FROM orders
            JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
                  FROM lineitem GROUP BY 1
                  HAVING sum(l_quantity) > 200) big
              ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "idle_customers": """
            SELECT c_nationkey, count(*) AS numcust,
                   round((sum(c_acctbal)) + 1e-06, 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY 1
        """,
        "interval_join_binned": """
            SELECT e.event_id AS err_id, c.event_id AS click_id
            FROM events e JOIN events c
              ON e.event_type = 'error' AND c.event_type = 'click'
             AND c.ts >= e.ts - INTERVAL 120 SECOND
             AND c.ts <= e.ts + INTERVAL 120 SECOND
        """,
        "stream_update": """
            SELECT event_type, count(*) AS cnt,
                   round((sum(value)) + 1e-06, 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "sql_surface": """
            WITH rev AS (
                SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                       sum(l_extendedprice * (1 - l_discount)) AS revenue
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY o_custkey, year(o_orderdate)
            )
            SELECT o_year, o_custkey, revenue, CAST(rk AS INTEGER) AS rk
            FROM (SELECT o_year, o_custkey,
                         round(revenue + 1e-06, 2) AS revenue,
                         row_number() OVER (PARTITION BY o_year
                                            ORDER BY round(revenue + 1e-06, 2)
                                                     DESC,
                                                     o_custkey ASC) AS rk
                  FROM rev)
            WHERE rk <= 5
        """,
        "tf_idf": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '[\\s\\x0b]+'))
                           AS token
                FROM documents
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
            ), dfreq AS (
                SELECT token, count(*) AS df FROM tf GROUP BY 1
            ), n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, token, tf, df, tfidf, CAST(rk AS INTEGER) AS rk
            FROM (
                SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                       round((tf.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df))
                             + 1e-10, 6) AS tfidf,
                       row_number() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY round((tf.tf * ln(CAST(n_docs AS DOUBLE)
                                                      / dfreq.df))
                                          + 1e-10, 6) DESC,
                                    tf.token ASC) AS rk
                FROM tf JOIN dfreq USING (token) CROSS JOIN n
            )
            WHERE rk <= 3
        """,
        "hash_sample": """
            SELECT doc_id, lang, source FROM documents
            WHERE (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296
                  < CAST(0.2 * 4294967296 AS BIGINT)
        """,
        "column_profile": """
            WITH stats AS (
                SELECT 'l_quantity' AS column, count(*) AS n_rows,
                       count(*) - count(l_quantity) AS n_null,
                       count(DISTINCT l_quantity) AS n_distinct,
                       round((min(l_quantity)::DOUBLE) + 1e-08, 4) AS min_value,
                       round((max(l_quantity)::DOUBLE) + 1e-08, 4) AS max_value,
                       round((avg(l_quantity)::DOUBLE) + 1e-08, 4) AS avg_value
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', count(*),
                       count(*) - count(l_extendedprice),
                       count(DISTINCT l_extendedprice),
                       round((min(l_extendedprice)::DOUBLE) + 1e-08, 4),
                       round((max(l_extendedprice)::DOUBLE) + 1e-08, 4),
                       round((avg(l_extendedprice)::DOUBLE) + 1e-08, 4)
                FROM lineitem
                UNION ALL
                SELECT 'l_discount', count(*), count(*) - count(l_discount),
                       count(DISTINCT l_discount),
                       round((min(l_discount)::DOUBLE) + 1e-08, 4),
                       round((max(l_discount)::DOUBLE) + 1e-08, 4),
                       round((avg(l_discount)::DOUBLE) + 1e-08, 4)
                FROM lineitem
                UNION ALL
                SELECT 'l_tax', count(*), count(*) - count(l_tax),
                       count(DISTINCT l_tax),
                       round((min(l_tax)::DOUBLE) + 1e-08, 4),
                       round((max(l_tax)::DOUBLE) + 1e-08, 4),
                       round((avg(l_tax)::DOUBLE) + 1e-08, 4)
                FROM lineitem
            )
            SELECT * FROM stats
        """,
        "balanced_sample": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 ASC,
                                    doc_id ASC) AS rk
                FROM documents
            ) WHERE rk <= 20
        """,
        "stratified_sample": """
            SELECT lang, count(*) AS n_docs, min(doc_id) AS first_doc
            FROM documents
            WHERE (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296
                  < CASE WHEN lang = 'en'
                         THEN CAST(0.1 * 4294967296 AS BIGINT)
                         ELSE CAST(0.5 * 4294967296 AS BIGINT) END
            GROUP BY 1
        """,
        "text_normalize": """
            WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^\\pL\\pN\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
                           AS norm_text
                FROM documents
            )
            SELECT doc_id, norm_text,
                   CAST(len(string_split(norm_text, ' ')) AS INTEGER)
                       AS n_tokens,
                   CAST(len(norm_text) AS INTEGER) AS n_chars_norm
            FROM norm
        """,
        "doc_chunks": """
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '[\\s\\x0b]+') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0, greatest(len(toks) - 1, 0),
                                              40)) AS start
                FROM t
            )
            SELECT doc_id, CAST(start / 40 AS INTEGER) AS chunk_id,
                   array_to_string(toks[start + 1 : start + 50], ' ') AS chunk,
                   CAST(least(50, len(toks) - start) AS INTEGER)
                       AS chunk_tokens
            FROM s
        """,
        "corpus_prep": """
            WITH norm AS (
                SELECT doc_id, lang,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^\\pL\\pN\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
                           AS ntext
                FROM documents
            ), feat AS (
                SELECT doc_id, lang, ntext,
                       len(string_split(ntext, ' ')) AS n_tokens
                FROM norm
                WHERE len(string_split(ntext, ' ')) BETWEEN 5 AND 5000
            ), first AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY ntext
                                                 ORDER BY doc_id) AS rn
                    FROM feat
                ) WHERE rn = 1
            )
            SELECT lang, count(*) AS n_docs,
                   round((avg(n_tokens)) + 1e-06, 2) AS avg_tokens,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM first GROUP BY 1
        """,
        # end-to-end corpus pipeline: each CTE block restates one stage
        # operator's existing oracle (quality_gate / corpus_prep dedup /
        # contamination / mixture_sample / pack_documents), chained on the
        # NORMALIZED text; on ntext the engine's two tokenizations (\s+
        # lower/trim vs ' +' raw) coincide with string_split(ntext, ' ')
        "corpus_pipeline": """
            WITH norm AS (
                SELECT doc_id, lang,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^\\pL\\pN\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
                           AS ntext
                FROM documents
            ), ltoks AS (
                SELECT doc_id, unnest(string_split(ntext, ' ')) AS tok
                FROM norm
            ), per_tok AS (
                SELECT doc_id, tok, count(*) AS c FROM ltoks GROUP BY 1, 2
            ), tok_stats AS (
                SELECT doc_id, max(c) AS tc, CAST(sum(c) AS BIGINT) AS n
                FROM per_tok GROUP BY 1
            ), rts AS (
                SELECT doc_id, string_split(ntext, ' ') AS rt FROM norm
            ), sh AS (
                SELECT doc_id, rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2]
                       AS s
                FROM (SELECT doc_id, rt,
                             unnest(generate_series(1, len(rt) - 2)) AS i
                      FROM rts)
            ), gram_stats AS (
                SELECT doc_id, count(*) AS n3, count(DISTINCT s) AS nd3
                FROM sh GROUP BY 1
            ), cnts AS (
                SELECT tok, count(*) AS tf FROM ltoks GROUP BY 1
            ), tot AS (
                SELECT sum(tf)::DOUBLE AS n_total FROM cnts
            ), sur AS (
                SELECT doc_id,
                       round((avg(-log2(tf / n_total))) + 1e-08, 4) AS s
                FROM ltoks JOIN cnts USING (tok) CROSS JOIN tot
                GROUP BY doc_id
            ), gated AS (
                -- quality_gate verdict = 'ok' (same rounded inputs and
                -- thresholds as the standalone quality_gate oracle)
                SELECT d.doc_id FROM norm d
                LEFT JOIN tok_stats t USING (doc_id)
                LEFT JOIN gram_stats g USING (doc_id)
                LEFT JOIN sur s USING (doc_id)
                WHERE coalesce(t.n, 0) >= 30
                  AND round((coalesce(1.0 - g.nd3 * 1.0 / g.n3, 0.0))
                            + 1e-08, 4) <= 0.03
                  AND round((coalesce(t.tc, 0) * 1.0
                             / greatest(coalesce(t.n, 0), 1))
                            + 1e-08, 4) <= 0.15
                  AND coalesce(s.s, 0.0) BETWEEN 4.9 AND 5.2
            ), uniq AS (
                SELECT doc_id, lang, ntext FROM (
                    SELECT n.*, row_number() OVER (PARTITION BY ntext
                                                   ORDER BY doc_id) AS rn
                    FROM norm n JOIN gated USING (doc_id)
                ) WHERE rn = 1
            ), corp AS (
                SELECT * FROM uniq WHERE doc_id % 97 <> 0
            ), b_sh AS (
                SELECT DISTINCT g AS shingle FROM (
                    SELECT unnest([array_to_string(rt[i:i+2], ' ')
                                   for i in range(1, len(rt) - 3 + 2)]) AS g
                    FROM rts WHERE doc_id % 97 = 0)
            ), c_sh AS (
                SELECT DISTINCT doc_id, g AS shingle FROM (
                    SELECT doc_id,
                           unnest([array_to_string(rt[i:i+2], ' ')
                                   for i in range(1, len(rt) - 3 + 2)]) AS g
                    FROM (SELECT doc_id, string_split(ntext, ' ') AS rt
                          FROM corp))
            ), totals AS (
                SELECT doc_id, count(*) AS n_shingles FROM c_sh GROUP BY 1
            ), hits AS (
                SELECT doc_id, count(*) AS n_cont FROM c_sh
                WHERE shingle IN (SELECT shingle FROM b_sh) GROUP BY 1
            ), clean AS (
                SELECT corp.* FROM corp JOIN (
                    SELECT t.doc_id FROM totals t LEFT JOIN hits h USING (doc_id)
                    WHERE round((COALESCE(h.n_cont, 0)
                                 / greatest(t.n_shingles, 1)) + 1e-08, 4)
                          <= 0.05
                ) USING (doc_id)
            ), counts AS (
                SELECT lang, count(*) AS c,
                       (CASE lang WHEN 'en' THEN 0.5
                                  WHEN 'de' THEN 0.125 WHEN 'fr' THEN 0.125
                                  WHEN 'es' THEN 0.125 WHEN 'zh' THEN 0.125
                        END)::DOUBLE AS w
                FROM clean GROUP BY 1
            ), t AS (
                SELECT min(c / w) AS T FROM counts WHERE w IS NOT NULL
            ), quotas AS (
                SELECT lang, CAST(floor(T * w) AS BIGINT) AS quota
                FROM counts CROSS JOIN t WHERE w IS NOT NULL
            ), ranked AS (
                SELECT doc_id, lang, ntext,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 ASC,
                                    doc_id ASC) AS rk
                FROM clean
            ), mixed AS (
                SELECT doc_id, lang, ntext
                FROM ranked JOIN quotas USING (lang)
                WHERE rk <= quota
            ), base AS (
                SELECT doc_id, lang, doc_id % 8 AS shard,
                       len(string_split(ntext, ' ')) AS n_tokens,
                       (((doc_id * 2654435761) % 4294967296) + 4294967296) % 4294967296 AS shuffle_key
                FROM mixed
            ), laid AS (
                SELECT doc_id, lang, shard, n_tokens, shuffle_key,
                       COALESCE(sum(n_tokens) OVER (
                           PARTITION BY shard
                           ORDER BY shuffle_key, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS start
                FROM base
            )
            SELECT doc_id, lang, shard,
                   CAST(n_tokens AS INTEGER) AS n_tokens, shuffle_key,
                   CAST(start // 512 AS BIGINT) AS pack_id,
                   CAST(start % 512 AS BIGINT) AS pack_offset
            FROM laid
        """,
        "stream_sliding": """
            WITH starts AS (
                SELECT make_timestamp(CAST(1800 * floor(epoch(ts) / 1800) AS BIGINT)
                                      * 1000000) AS ws, event_type, value FROM events
                UNION ALL
                SELECT make_timestamp(CAST(1800 * floor(epoch(ts) / 1800) AS BIGINT)
                                      * 1000000) - INTERVAL 30 MINUTE, event_type, value
                FROM events
            )
            SELECT ws AS window_start, event_type, count(*) AS cnt,
                   round((sum(value)) + 1e-06, 2) AS sum_value
            FROM starts
            WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 2 MINUTE FROM events)
            GROUP BY 1, 2
        """,
        "partition_pruned": """
            SELECT CAST(ts AS DATE) AS date, count(*) AS cnt,
                   round((avg(value)) + 1e-06, 2) AS avg_value
            FROM events
            WHERE CAST(ts AS DATE) = DATE '2024-01-03'
               OR CAST(ts AS DATE) = DATE '2024-01-05'
               OR CAST(ts AS DATE) = DATE '2024-01-07'
            GROUP BY 1
        """,
        "dedup_clusters": """
            WITH RECURSIVE n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
                WHERE list_dot_product(v, v) > 0
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nn a JOIN nn b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
            ), sym AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM sym)
                UNION
                SELECT s.s, reach.r FROM sym s JOIN reach ON reach.id = s.d
            )
            SELECT id AS vec_id, min(r) AS canonical_id
            FROM reach GROUP BY id
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST((octet_length(encode(text)) % 640) + 1 AS INTEGER) AS width,
                   CAST(((octet_length(encode(text)) * 7) % 480) + 1 AS INTEGER) AS height,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "video_frames": """
            SELECT doc_id AS media_id,
                   CAST(f AS BIGINT) AS frame_ms,
                   doc_id || ':' || f AS frame_key
            FROM documents
            CROSS JOIN unnest(generate_series(
                0, greatest(n_chars - 1, 0), 700)) t(f)
            WHERE n_chars IS NOT NULL
        """,
        "nullsafe_join": """
            WITH keyed AS (
                SELECT CASE WHEN value < 10 THEN NULL
                            ELSE CAST(floor(value / 10) AS INTEGER) END AS k, value
                FROM events
            ), a AS (
                SELECT k, count(*) AS n_a FROM keyed GROUP BY 1
            ), b AS (
                SELECT k, round((avg(value)) + 1e-06, 2) AS avg_b
                FROM keyed GROUP BY 1
            )
            SELECT a.k, a.n_a, b.avg_b
            FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        """,
        "salted_hourly": """
            SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                   count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "csv_roundtrip": """
            SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INTEGER) AS hour,
                   count(*) AS cnt, round((avg(value)) + 1e-06, 2) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "orc_roundtrip": """
            SELECT event_type,
                   count(*) AS cnt,
                   count(value) AS n_vals,
                   round((avg(value)) + 1e-06, 2) AS avg_value,
                   min(event_id) AS first_event,
                   max(event_id) AS last_event
            FROM events WHERE event_type IS NOT NULL
            GROUP BY 1
        """,
        "conditional_funcs": """
            SELECT event_id,
                   nullif(event_type, 'error') AS et_or_null,
                   ifnull(nullif(event_type, 'error'), 'suppressed') AS et_fallback,
                   greatest(value, 50.0) AS floor50,
                   least(value, 50.0) AS cap50,
                   CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END AS band
            FROM events
        """,
        "bitwise_funcs": """
            SELECT event_id,
                   event_id & user_id AS b_and,
                   event_id | user_id AS b_or,
                   xor(event_id, user_id) AS b_xor,
                   user_id << 2 AS b_shl,
                   event_id >> 1 AS b_shr
            FROM events
        """,
        "hash_funcs": """
            SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
            FROM documents
        """,
        "regr_agg": """
            SELECT event_type,
                   round((regr_slope(value, CAST(hour(ts) AS DOUBLE))) + 1e-10, 6) AS slope,
                   round((regr_intercept(value, CAST(hour(ts) AS DOUBLE))) + 1e-08, 4) AS intercept,
                   round((regr_r2(value, CAST(hour(ts) AS DOUBLE))) + 1e-10, 6) AS r2,
                   CAST(regr_count(value, CAST(hour(ts) AS DOUBLE)) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "array_agg": """
            SELECT user_id,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
                   count(DISTINCT event_type) AS n_types
            FROM events GROUP BY 1
        """,
        "ml_linear_fit": """
            WITH xy AS (
                SELECT CAST(l_quantity AS DOUBLE) AS x,
                       CAST(l_extendedprice AS DOUBLE) AS y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), m AS (
                SELECT avg(x) AS mx, avg(y) AS my,
                       CAST(count(*) AS BIGINT) AS n
                FROM xy
            ), f AS (
                SELECT n, mx, my,
                       sum((x - mx) * (y - my)) /
                       sum((x - mx) * (x - mx)) AS slope
                FROM xy, m GROUP BY n, mx, my
            ), fit AS (
                SELECT n, slope, my - slope * mx AS intercept FROM f
            )
            SELECT fit.n AS n,
                   round(fit.slope + 1e-10, 6) AS slope,
                   round(fit.intercept + 1e-10, 6) AS intercept,
                   round(avg(abs(y - (fit.slope * x + fit.intercept)))
                         + 1e-10, 6) AS mae
            FROM xy, fit
            GROUP BY fit.n, fit.slope, fit.intercept
        """,
        "date_functions": """
            SELECT event_id,
                   last_day(ts) AS month_end,
                   CAST(quarter(ts) AS INTEGER) AS qtr,
                   CAST(dayofyear(ts) AS INTEGER) AS doy,
                   CAST(weekofyear(ts) AS INTEGER) AS woy,
                   CAST(ts AS DATE) + 7 AS plus_week,
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start
            FROM events
        """,
        "string_funcs2": """
            SELECT event_id,
                   CAST(levenshtein(event_type, 'click') AS INTEGER) AS lev_click,
                   split_part(event_type || '|' || CAST(user_id AS VARCHAR), '|', 2) AS uid_field,
                   reverse(event_type) AS et_rev,
                   CAST(strpos(event_type, 'e') AS INTEGER) AS pos_e,
                   repeat(substring(event_type, 1, 1), 3) AS tripled
            FROM events
        """,
        "stats_agg": """
            -- r7 non-finite pin: NaN/Inf nulled before the moment
            -- aggregates (Inf ABORTS DuckDB stddev_samp, NaN-poisons
            -- Spark's — moment guard, like covariance's finite filter)
            SELECT event_type,
                   round((stddev_samp(value)) + 1e-08, 4) AS sd_value,
                   round((var_samp(value)) + 1e-08, 4) AS var_value,
                   round((corr(value, CAST(user_id AS DOUBLE))) + 1e-10, 6) AS corr_vu,
                   round((covar_samp(value, CAST(user_id AS DOUBLE))) + 1e-08, 4) AS covar_vu
            FROM (SELECT event_type, user_id,
                         CASE WHEN isfinite(value) THEN value END AS value
                  FROM events) GROUP BY 1
        """,
        "argmax_agg": """
            WITH r AS (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value DESC NULLS LAST,
                                                   event_id DESC) AS rmax,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value ASC NULLS FIRST,
                                                   event_id ASC) AS rmin
                FROM events
            )
            SELECT event_type,
                   max(CASE WHEN rmax = 1 THEN event_id END) AS id_at_max,
                   max(CASE WHEN rmin = 1 THEN event_id END) AS id_at_min,
                   count(*) FILTER (WHERE value > 50.0) AS n_hi,
                   count(*) AS n_rows
            FROM r GROUP BY 1
        """,
        "histogram": """
            -- r7 non-finite pin: NaN/Inf excluded — CAST(floor(...) AS
            -- INTEGER) errors on non-finite in BOTH engines
            SELECT CAST(floor(value / 10) AS INTEGER) AS bin, count(*) AS cnt,
                   round((count(*) * 1.0 /
                          (SELECT count(*) FROM events
                           WHERE value IS NOT NULL AND isfinite(value)))
                         + 1e-10, 6) AS share
            FROM events WHERE value IS NOT NULL AND isfinite(value)
            GROUP BY 1
        """,
        "embedding_near_dup": """
            WITH n AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding,
                          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                  -- r9 norm-window guard (valid_vectors): subnormal
                  -- vectors underflow to norm 0, >=1e154 elements
                  -- overflow to norm Inf; list_sum skips NULL elements
                  -- so this clause is safe in any conjunct order
                  AND list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)) > 0
                  AND isfinite(list_sum(list_transform(
                          embedding::DOUBLE[], x -> x * x)))
            ), nn AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
                WHERE list_dot_product(v, v) > 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) + 1e-10, 6) AS cosine
            FROM nn a JOIN nn b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.42
        """,
        "text_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_computed,
                   round((length(regexp_replace(text, '[^aeiou]', '', 'g')) * 1.0 /
                          greatest(length(text), 1)) + 1e-08, 4) AS vowel_ratio
            FROM documents
        """,
    }
