"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` is seed-stable only for a fixed partitioning — a repartition
or a different cluster size changes which rows land where, and therefore
which rows survive. Corpus pipelines need sampling decisions that are a pure
function of the ROW (so reruns, backfills, and train/eval splits agree
across jobs and engines). These operators gate each row on a multiplicative
integer hash of its id:

    bucket(id) = (id * 2654435761) mod 2^32      (Knuth's constant)
    keep       = bucket(id) < fraction * 2^32

Pure int64 arithmetic — identical in any engine (the DuckDB oracle states
the same expression), fully codegen'd, map-only (zero shuffle at any scale),
and O(1) per row. The multiplier is the golden-ratio constant from Knuth
TAOCP vol. 3 §6.4; low-order id patterns (sequential ids, stride-k ids)
spread uniformly across buckets.

A salt shifts the whole sample: different salts give independent samples
(e.g. train/holdout), the same salt reproduces the exact row set anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.numeric import stable_round

_KNUTH = 2654435761
_MOD = 2 ** 32


def hash_bucket(id_col: str | Column, salt: int = 0) -> Column:
    """The row's deterministic bucket in [0, 2^32)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod((c + F.lit(salt)) * F.lit(_KNUTH), F.lit(_MOD))


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: int = 0) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows, decided per-row by the
    id hash — reproducible across runs, partitionings, and engines."""
    return df.where(hash_bucket(id_col, salt) < F.lit(int(fraction * _MOD)))


def balanced_sample(df: DataFrame, id_col: str, class_col: str,
                    n_per_class: int, salt: int = 0) -> DataFrame:
    """Exactly ``n_per_class`` rows per class (fewer if the class is
    smaller), chosen deterministically: rows rank within their class by
    (hash, id) and the first n win — the class-rebalancing subsample for
    skewed training data (cap the dominant classes, keep the tail whole).

    Unlike the map-only fraction gates above this needs one shuffle (the
    per-class rank window), keyed on the class — bounded by class
    cardinality, and AQE-splittable when one class dominates. The
    (hash, id) order is row-pure, so the selected set is independent of
    partitioning and reproducible in any engine.
    """
    from pyspark.sql import Window
    w = Window.partitionBy(class_col).orderBy(
        hash_bucket(id_col, salt).asc(), F.col(id_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= n_per_class).drop("__rk"))


def budget_sample(df: DataFrame, id_col: str, group_col: str,
                  size_col: str, budget: int, salt: int = 0,
                  cum_col: str = "cum_size") -> DataFrame:
    """Deterministic BUDGET-bounded sampling per group: rows order within
    their group by (hash, id) and survive while the group's RUNNING SIZE
    total stays within ``budget`` — the token-budget mixing rule a
    training-data pipeline applies per source/language ("take ~N tokens
    of each", not "~N documents of each", because document lengths are
    long-tailed and a doc-count cap over-weights verbose sources).
    Sizes are positive, so the running sum is monotone and the kept set
    is the maximal (hash, id)-prefix fitting the budget.

    One shuffle, keyed on the group (bounded by group cardinality,
    AQE-splittable); the (hash, id) order is row-pure, so the selected
    set is independent of partitioning and restatable by any engine —
    the same contract as ``balanced_sample``, with the running-sum
    window in place of the rank window. The cumulative column survives
    in the output (``cum_col``) as the per-group budget audit trail."""
    from pyspark.sql import Window
    w = (Window.partitionBy(group_col)
         .orderBy(hash_bucket(id_col, salt).asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.withColumn(cum_col,
                          F.sum(size_col).over(w).cast("bigint"))
            .where(F.col(cum_col) <= F.lit(budget)))


def stratified_hash_sample(df: DataFrame, id_col: str, strata_col: str,
                           fractions: dict[str, float],
                           default_fraction: float = 0.0,
                           salt: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its own
    keep-fraction (e.g. downsample dominant languages, keep the tail).
    Same row-pure hash gate; the stratum only selects the threshold, so the
    operator stays map-only — no per-group shuffle, unlike ``sampleBy``."""
    thr: Column = F.lit(int(default_fraction * _MOD))
    for value, frac in fractions.items():
        thr = F.when(F.col(strata_col) == value,
                     F.lit(int(frac * _MOD))).otherwise(thr)
    return df.where(hash_bucket(id_col, salt) < thr)


def hash_split(df: DataFrame, id_col: str, splits: dict[str, float],
               salt: int = 0, split_col: str = "split") -> DataFrame:
    """Named deterministic dataset split (train/val/test): each row's split
    is a pure function of its id hash, so the SAME row lands in the SAME
    split across runs, partitionings, cluster sizes, and engines — the
    property ``randomSplit`` cannot give (its assignment depends on the
    physical partitioning). Fractions are normalized; the last split
    absorbs the remainder, so every row is assigned.

    Map-only (zero shuffle at any scale); cut points are exact integers
    over the 2^32 bucket space computed once on the driver, so an external
    SQL oracle can restate the identical CASE expression.
    """
    total = sum(splits.values())
    names = list(splits)
    bucket = hash_bucket(id_col, salt)
    acc = 0.0
    out: Column | None = None
    for name in names[:-1]:
        acc += splits[name] / total
        cond = bucket < F.lit(int(acc * _MOD))
        out = F.when(cond, name) if out is None else out.when(cond, name)
    out = F.lit(names[0]) if out is None else out.otherwise(names[-1])
    return df.withColumn(split_col, out)


def weighted_sample(df: DataFrame, id_col: str, weight_col: str,
                    k: int, salt: int = 0,
                    prune_groups: int = 64) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each row draws ``u`` deterministically from its id hash and ranks by
    ``-log2(u) / w`` ascending — the top-``k`` are a weighted sample
    (inclusion probability ∝ weight, exactly the A-Res guarantee), e.g.
    quality-weighted corpus subsampling where better documents should
    survive more often but nothing is excluded outright.

    Deterministic and engine-portable: ``u = (bucket + 1) / 2^32`` from
    the same multiplicative hash as every sampler here, so reruns and the
    SQL oracle reproduce the exact sample; a new ``salt`` is a fresh
    draw. Keys are stable-rounded before ranking (libm vs JVM log differ
    in the last ulp) with the id as the tie-break. The global top-k rank
    is pre-pruned per hash group (build_vocab discipline). Rows with
    non-positive or NULL weight are excluded (zero mass).
    """
    from pyspark.sql import Window
    u = (hash_bucket(id_col, salt) + 1) / F.lit(float(_MOD))
    key = stable_round(-F.log2(u) / F.col(weight_col), 8)
    base = (df.where(F.col(weight_col).isNotNull() &
                     (F.col(weight_col) > 0))
            .withColumn("__key", key))
    gw = (Window.partitionBy(F.pmod(F.xxhash64(F.col(id_col)
                                               .cast("string")),
                                    F.lit(prune_groups)))
          .orderBy(F.col("__key").asc(), F.col(id_col).asc()))
    pruned = (base.withColumn("__gr", F.row_number().over(gw))
              .where(F.col("__gr") <= k).drop("__gr"))
    w = Window.orderBy(F.col("__key").asc(), F.col(id_col).asc())
    return (pruned.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk", "__key"))


def mixture_sample(df: DataFrame, id_col: str, group_col: str,
                   targets: dict[str, float], salt: int = 0) -> DataFrame:
    """Rebalance the corpus to a TARGET GROUP MIXTURE (e.g. language
    shares for a pretraining mix) with exact per-group quotas and maximum
    retention: the largest total T such that T * share_g <= count_g for
    every targeted group is feasible, so each group keeps exactly
    ``floor(T * share_g)`` rows — the binding (scarcest-relative-to-
    target) group is kept whole and every other group is downsampled to
    match. Groups absent from ``targets`` are dropped.

    Row selection within a group is the deterministic (hash, id) rank —
    reproducible across runs, partitionings, and engines. Plan shape: one
    tiny count aggregate -> a scalar min -> a broadcast quota join -> one
    per-group rank window (same bounded shuffle as ``balanced_sample``).
    Shares should be binary-exact fractions (0.5, 0.125, ...) if an
    external SQL oracle must reproduce the floor() boundary bit-for-bit.
    """
    from pyspark.sql import Window
    total_w = sum(targets.values())
    share: Column = F.lit(None).cast("double")
    for g, wgt in targets.items():
        share = F.when(F.col(group_col) == g,
                       F.lit(wgt / total_w)).otherwise(share)
    counts = (df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c"))
              .withColumn("__w", share).where(F.col("__w").isNotNull()))
    feasible = counts.agg(F.min(F.col("__c") / F.col("__w")).alias("__T"))
    quotas = (counts.crossJoin(F.broadcast(feasible))
              .select(group_col,
                      F.floor(F.col("__T") * F.col("__w")).alias("__quota")))
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(id_col, salt).asc(), F.col(id_col).asc())
    return (df.join(F.broadcast(quotas), group_col)
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= F.col("__quota"))
            .drop("__rk", "__quota"))


def temperature_targets(df: DataFrame, group_col: str,
                        temperature: float = 0.7) -> dict[str, float]:
    """Derive the target mixture FROM the corpus by temperature scaling:
    ``share_g ∝ count_g^T`` — the multilingual-rebalancing rule from
    XLM-R/mT5-style pretraining (T < 1 upweights low-resource groups
    toward uniform; T = 1 keeps natural proportions; T → 0 → uniform).
    A fit step like ``corpus.surprisal_band``: one count aggregate, the
    driver sees |groups| floats; feed the result to ``mixture_sample``
    (or use ``temperature_mixture`` which composes the two).

    NULL groups are excluded (they would be dropped by
    ``mixture_sample`` anyway — groups absent from targets drop).
    """
    counts = (df.where(F.col(group_col).isNotNull())
              .groupBy(group_col).agg(F.count(F.lit(1)).alias("c"))
              .collect())
    raw = {r[group_col]: float(r["c"]) ** temperature for r in counts}
    total = sum(raw.values())
    return {g: v / total for g, v in raw.items()}


def temperature_mixture(df: DataFrame, id_col: str, group_col: str,
                        temperature: float = 0.7,
                        salt: int = 0) -> DataFrame:
    """Temperature-scaled corpus rebalancing in one call:
    ``mixture_sample`` against ``temperature_targets`` of the corpus's
    own group counts. Same deterministic (hash, id) row selection, same
    exact-quota arithmetic, same bounded plan — only the SHARES are now
    derived from the data instead of hand-specified. The standard knob
    for multilingual/domain mixes where the natural distribution is too
    skewed to train on but a hand-tuned target is unprincipled."""
    return mixture_sample(df, id_col, group_col,
                          temperature_targets(df, group_col, temperature),
                          salt=salt)
