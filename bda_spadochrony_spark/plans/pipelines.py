"""Reference-parity batch pipelines (SURVEY §3.1): the three hourly
aggregate jobs, generalized.

Differences from the reference by design (SURVEY §4.1):
- one multi-file scan instead of per-file glob/union;
- ``persist()`` before multi-action fan-out (the reference recomputes the
  DAG 4× per job — ``batch_openweather.py:107-120``);
- the serving write is executor-side (writers.write_serving_table), driver
  collect loops are gone;
- sort only at the sink, where the reference sorts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.temporal import with_date_hour
from bda_spadochrony_spark.operators.aggregates import (group_agg,
                                                        hourly_measures,
                                                        mode_by_struct_max)
from bda_spadochrony_spark.operators.joins import equi_join
from bda_spadochrony_spark.operators.sorts import sort_by
from bda_spadochrony_spark.functions.numeric import stable_round


def hourly_rollup(df: DataFrame, ts_col: str,
                  avg_cols: list[str],
                  mode_cols: list[str] | None = None,
                  tz: str | None = None, skew_minutes: int = 0,
                  ndigits: int = 2) -> DataFrame:
    """The generalized weather/stock hourly job: date/hour derivation →
    count + rounded avgs → mode columns joined on (date, hour) → sort.

    Weather flavor (``batch_openweather.py:69-105``): 9 avgs + 2 modes.
    Stock flavor (``batch_stock.py:70-85``): NY timezone, −20 min skew,
    8 avgs, no modes.
    """
    keyed = with_date_hour(df, ts_col, tz=tz, skew_minutes=skew_minutes)
    agg = group_agg(keyed, ["date", "hour"], hourly_measures(avg_cols, ndigits))
    for mc in (mode_cols or []):
        agg = equi_join(agg, mode_by_struct_max(keyed, ["date", "hour"], mc),
                        on=["date", "hour"])
    return sort_by(agg, ["date", "hour"])


def weather_hourly(weather: DataFrame) -> DataFrame:
    """``batch_openweather.py`` parity: 9 averaged metrics, mode of
    weather_main and weather_description."""
    return hourly_rollup(
        weather, "timestamp",
        avg_cols=["temp", "visibility", "pressure", "clouds", "feels_like",
                  "temp_max", "temp_min", "humidity", "wind_speed"],
        mode_cols=["weather_main", "weather_description"])


def stock_hourly(stock: DataFrame) -> DataFrame:
    """``batch_stock.py`` parity: NY wall-clock, −20 min feed-skew
    correction, 8 averaged metrics (epoch-seconds ``timestamp`` column is
    Integer in the reference — cast first)."""
    s = stock.withColumn("event_ts", F.to_timestamp(F.col("timestamp").cast("long")))
    return hourly_rollup(
        s, "event_ts", tz="America/New_York", skew_minutes=20,
        avg_cols=["volume", "vwap", "open", "close", "high", "low", "transactions"])


def traffic_hourly(tomtom: DataFrame, tz: str | None = "America/New_York") -> DataFrame:
    """``batch_tomtom.py`` parity — the hardest batch shape (SURVEY §7.2
    step 5), reproduced stage for stage:

    - NY wall-clock date/hour (``batch_tomtom.py:86-88``);
    - per-(date,hour,iconCategory,id) null-domain averages of delay/length
      (filter-then-avg, :94-100) and ``count(probabilityOfOccurrence)``
      (null-skipping, :103) — INNER-joined (:104-106), so a fine group whose
      delays or lengths are ALL null drops out, exactly as the reference's;
    - fine-level modes of probabilityOfOccurrence and magnitudeOfDelay
      (struct-max, larger-value tie-break, :110-112);
    - the unweighted avg-of-avgs roll-up to (date,hour,iconCategory) with
      rounding applied at the COARSE level only (:115-118), plus the
      mode-of-modes columns (:120-122).
    """
    keyed = with_date_hour(tomtom, "observationTime", tz=tz)
    fine_keys = ["date", "hour", "iconCategory", "id"]
    delay = (keyed.filter(F.col("delay").isNotNull())
             .groupBy(*fine_keys).agg(F.avg("delay").alias("avg_delay")))
    length = (keyed.filter(F.col("length").isNotNull())
              .groupBy(*fine_keys).agg(F.avg("length").alias("avg_length")))
    fine = (keyed.groupBy(*fine_keys)
            .agg(F.count("probabilityOfOccurrence").alias("n_prob"))
            .join(delay, fine_keys)
            .join(length, fine_keys)
            .join(mode_by_struct_max(keyed, fine_keys, "probabilityOfOccurrence"),
                  fine_keys)
            .join(mode_by_struct_max(keyed, fine_keys, "magnitudeOfDelay"),
                  fine_keys))
    coarse_keys = ["date", "hour", "iconCategory"]
    coarse = (fine.groupBy(*coarse_keys)
              .agg(F.count("id").alias("n_incidents"),
                   stable_round(F.avg("avg_delay"), 2).alias("avg_avg_delay"),
                   stable_round(F.avg("avg_length"), 2).alias("avg_avg_length"))
              .join(mode_by_struct_max(fine, coarse_keys,
                                       "mode_probabilityOfOccurrence",
                                       out_col="coarse_mode_prob"), coarse_keys)
              .join(mode_by_struct_max(fine, coarse_keys, "mode_magnitudeOfDelay",
                                       out_col="coarse_mode_mag"), coarse_keys))
    return sort_by(coarse, ["date", "hour", "iconCategory"])


def traffic_hourly_fused(tomtom: DataFrame,
                         tz: str | None = "America/New_York") -> DataFrame:
    """The 100 TB rewrite of ``traffic_hourly`` — IDENTICAL output (same
    oracle), a fraction of the plan: the reference's five fine-level scans
    + four joins collapse into one scan computing every frame-expressible
    measure in a single hash aggregate (avg ≡ sum/count over non-nulls,
    survivor filter ≡ HAVING), plus two mode scans that can't share a
    single groupBy (each mode needs its own per-value marginal counts).
    9 scans / 39 exchanges → 3 scans / ~13 exchanges at sf0.1."""
    keyed = with_date_hour(tomtom, "observationTime", tz=tz)
    fine_keys = ["date", "hour", "iconCategory", "id"]
    base = (keyed.groupBy(*fine_keys)
            .agg(F.count("probabilityOfOccurrence").alias("n_prob"),
                 F.avg("delay").alias("avg_delay"),
                 F.avg("length").alias("avg_length"),
                 F.count("delay").alias("__nd"),
                 F.count("length").alias("__nl"))
            .where((F.col("__nd") > 0) & (F.col("__nl") > 0))
            .drop("__nd", "__nl"))
    fine = (base
            .join(mode_by_struct_max(keyed, fine_keys, "probabilityOfOccurrence"),
                  fine_keys)
            .join(mode_by_struct_max(keyed, fine_keys, "magnitudeOfDelay"),
                  fine_keys))
    coarse_keys = ["date", "hour", "iconCategory"]
    coarse = (fine.groupBy(*coarse_keys)
              .agg(F.count("id").alias("n_incidents"),
                   stable_round(F.avg("avg_delay"), 2).alias("avg_avg_delay"),
                   stable_round(F.avg("avg_length"), 2).alias("avg_avg_length"))
              .join(mode_by_struct_max(fine, coarse_keys,
                                       "mode_probabilityOfOccurrence",
                                       out_col="coarse_mode_prob"), coarse_keys)
              .join(mode_by_struct_max(fine, coarse_keys, "mode_magnitudeOfDelay",
                                       out_col="coarse_mode_mag"), coarse_keys))
    return sort_by(coarse, ["date", "hour", "iconCategory"])


def corpus_pipeline(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", lang_col: str = "lang",
                    targets: dict[str, float] | None = None,
                    min_tokens: int = 30, max_dup3: float = 0.03,
                    max_top_token: float = 0.15,
                    surprisal_lo: float = 4.9, surprisal_hi: float = 5.2,
                    calibrate_surprisal: bool = False,
                    band_quantiles: tuple[float, float] = (0.1, 0.9),
                    contamination_max: float = 0.05, bench_mod: int = 97,
                    budget: int = 512, num_shards: int = 8) -> DataFrame:
    """The end-to-end training-corpus pipeline — normalize → quality
    gate → digest-windowed exact dedup → 3-gram benchmark
    decontamination → language-mixture rebalance → shuffled-epoch
    sequence packing, composed from the engine's stage operators with
    checkpoints, not collects, between stages (the
    ``corpus_pipeline`` contract query runs this with the default
    fixed thresholds; its oracle chains the stage oracles as CTEs).

    ``calibrate_surprisal=True`` replaces the fixed surprisal band with
    ``corpus.surprisal_band``'s percentiles of THIS corpus's own
    distribution — the production configuration (a fixed band tuned on
    one corpus drops 100% of a different-vocabulary corpus; measured at
    the 10× Zipfian fixture, BENCH_SF1). Calibration is a fit step: one
    aggregate action over the same surprisal frame the gate consumes.

    Checkpointed — the frames a production pipeline materializes
    between stages: the normalized corpus (three consumers), the
    surprisal scores when calibrating (the band and the gate), the
    gate's kept ids and the decontaminated survivors (``contamination``
    reads the deduplicated corpus twice and ``mixture_sample`` reads the
    survivors twice, so without a cut each read re-plans and re-runs the
    whole tree above it), and the mixture survivors (packing and the
    final join). Under AQE, ``localCheckpoint(eager=False)`` runs every
    upstream shuffle stage when it is called; only the final stage waits
    for the first action. Exchange count is bounded (PLANS.md): every
    shuffle is keyed on a digest, the language, or the shard, never on
    raw text or pairs.
    """
    from bda_spadochrony_spark.operators.corpus import (_gate_verdict,
                                                        _surprisal_percentiles,
                                                        contamination,
                                                        pack_documents,
                                                        unigram_surprisal)
    from bda_spadochrony_spark.operators.sampling import (hash_bucket,
                                                          mixture_sample)
    from bda_spadochrony_spark.operators.text import normalize_text
    from pyspark.sql import Window

    targets = targets or {"en": 0.5, "de": 0.125, "fr": 0.125,
                          "es": 0.125, "zh": 0.125}
    norm = (docs.select(F.col(id_col), F.col(lang_col),
                        normalize_text(text_col).alias("ntext"))
            .localCheckpoint(eager=False))
    sur = unigram_surprisal(norm, id_col, "ntext")
    if calibrate_surprisal:
        sur = sur.localCheckpoint(eager=False)   # the band and the gate
        surprisal_lo, surprisal_hi = _surprisal_percentiles(
            sur, *band_quantiles)
    gate = (_gate_verdict(norm, sur, id_col, "ntext", min_tokens, max_dup3,
                          max_top_token, surprisal_lo, surprisal_hi)
            .where(F.col("keep") == 1).select(id_col)
            .localCheckpoint(eager=False))
    kept = norm.join(gate, id_col, "left_semi")
    wd = Window.partitionBy(F.xxhash64("ntext")).orderBy(id_col)
    uniq = (kept.withColumn("__rn", F.row_number().over(wd))
            .where(F.col("__rn") == 1).drop("__rn"))
    bench = norm.where(F.col(id_col) % bench_mod == 0)
    corp = uniq.where(F.col(id_col) % bench_mod != 0)
    cont = contamination(corp, bench, id_col, "ntext", shingle_n=3)
    clean = (corp.join(cont.where(F.col("contamination") <= contamination_max)
                       .select(id_col), id_col, "left_semi")
             .localCheckpoint(eager=False))
    mixed = (mixture_sample(clean, id_col, lang_col, targets)
             .localCheckpoint(eager=False))
    packed = pack_documents(mixed, id_col, "ntext", budget=budget,
                            num_shards=num_shards,
                            order_col=hash_bucket(id_col))
    return (packed.join(mixed.select(id_col, lang_col), id_col)
            .select(id_col, lang_col, "shard", "n_tokens",
                    hash_bucket(id_col).alias("shuffle_key"),
                    "pack_id", "pack_offset"))
