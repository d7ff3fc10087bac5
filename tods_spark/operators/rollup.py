"""Cascading continuous-aggregate rollup: raw → 1m → 1h → 1d.

Generalizes the reference's ``TimeIntervalTransformPrimitive`` downsample
(resample-interval mean + label binarize, tods/data_processing/
TimeIntervalTransform.py:148-169) to the full algebraic aggregate set the
north star requires: count / sum / min / max / mean / M2-variance /
quantile-digest over ``n_tok``, computed once from raw and then RE-AGGREGATED
tier-to-tier (never recomputed from raw):

    count, sum, min, max       — trivially algebraic
    mean = sum/count           — derived, kept for parity with resample-mean
    var via (count, sum, sum_sq) composition
    quantiles                  — mergeable inverse-CDF grid (functions/sketches)

Scale notes (10^12 sequences, 1000 executors):
  * raw→1m is ONE shuffle on (source, minute) with map-side partial
    aggregation; when requested, the digest is a JVM expression over the
    window's sorted values (`collect_list` ships each raw value through
    that shuffle, 8 bytes a row), so raw→1m runs without a Python worker.
  * the heavy `source` key ("web" ≈ 70% of rows) makes (source) alone a skew
    bomb; the group key always includes the window, which spreads hot sources
    across time — plus AQE skew handling and optional salting (operators/skew)
    for the pathological single-hot-minute case.
  * tier N+1 re-aggregates tier N: input is |windows| rows, orders of
    magnitude smaller than raw; each cascade step is a cheap shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tods_spark.functions import sketches

TIERS = ("1m", "1h", "1d", "1w")
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "1w": 604800}
# "1w" is spelled "7 days": Spark tumbling windows align every duration to
# the 1970-01-01 epoch, so a 7-day window is epoch-aligned too (Thursday
# boundaries); calendar-"week" semantics (Monday origin) are a different
# contract — oracle twins must pin the same origin (DuckDB time_bucket's
# week origin is 2000-01-03, a Monday, so the twin passes
# origin TIMESTAMP '1970-01-01' explicitly).
TIER_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day",
                 "1w": "7 days"}

AGG_COLS = [
    "cnt",
    "sum_n_tok",
    "min_n_tok",
    "max_n_tok",
    "avg_n_tok",
    "sum_sq_n_tok",
]


def rollup_raw(
    df: DataFrame,
    tier: str = "1m",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
    with_digest: bool = False,
) -> DataFrame:
    """raw → first tier. One shuffle, algebraic aggs, all in the JVM.

    with_digest adds ``qdigest``: the window's values collected and sorted
    after the shuffle, then `sketches.digest_expr` — bit-exact to
    `sketches.digest_from_values` and independent of partitioning (its
    higher-order functions run interpreted; the rest stays codegen'd)."""
    interval = TIER_INTERVAL[tier]
    v = F.col(value_col).cast("double")
    return (
        df.groupBy(*keys, F.window(ts_col, interval).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(v).alias("sum_n_tok"),
            F.min(v).alias("min_n_tok"),
            F.max(v).alias("max_n_tok"),
            F.sum(v * v).alias("sum_sq_n_tok"),
            *(
                [F.sort_array(F.collect_list(v)).alias("_vals")]
                if with_digest
                else []
            ),
        )
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.lit(tier).alias("tier"),
            "cnt",
            "sum_n_tok",
            "min_n_tok",
            "max_n_tok",
            (F.col("sum_n_tok") / F.col("cnt")).alias("avg_n_tok"),
            "sum_sq_n_tok",
            *(
                [sketches.digest_expr(F.col("_vals")).alias("qdigest")]
                if with_digest
                else []
            ),
        )
    )


def rollup_cascade(
    tier_df: DataFrame,
    from_tier: str,
    to_tier: str,
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """tier N → tier N+1 by re-aggregating stored state (algebraic compose;
    digests merged via the weighted-grid kernel). Never touches raw."""
    assert TIER_SECONDS[to_tier] % TIER_SECONDS[from_tier] == 0
    has_digest = "qdigest" in tier_df.columns
    parent = F.window("window_start", TIER_INTERVAL[to_tier])["start"]
    gb = tier_df.groupBy(*keys, parent.alias("window_start"))
    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
        F.sum("sum_sq_n_tok").alias("sum_sq_n_tok"),
    ]
    if has_digest:
        # one collect_list of structs: guarantees (digest, cnt) stay paired
        aggs.append(
            F.collect_list(F.struct("qdigest", "cnt")).alias("_dstate")
        )
    out = gb.agg(*aggs).withColumn(
        "avg_n_tok", F.col("sum_n_tok") / F.col("cnt")
    )
    if has_digest:

        @F.pandas_udf("array<double>")
        def merge(states: pd.Series) -> pd.Series:
            return pd.Series(sketches.merge_digest_series(states))

        out = out.withColumn("qdigest", merge("_dstate")).drop("_dstate")
    cols = [*keys, "window_start", F.lit(to_tier).alias("tier"), *AGG_COLS]
    if has_digest:
        cols.append("qdigest")
    return out.select(*cols)


def variance_from_state(df: DataFrame) -> DataFrame:
    """Population variance from the algebraic (cnt, sum, sum_sq) state —
    matches the reference's np.var ddof=0 (StatisticalVar.py:307)."""
    return df.withColumn(
        "var_n_tok",
        F.col("sum_sq_n_tok") / F.col("cnt")
        - (F.col("sum_n_tok") / F.col("cnt")) ** 2,
    )


def full_cascade(
    raw: DataFrame,
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
    with_digest: bool = False,
) -> dict[str, DataFrame]:
    """Run raw → 1m → 1h → 1d; returns {tier: DataFrame}."""
    t1m = rollup_raw(raw, "1m", value_col=value_col, keys=keys,
                     with_digest=with_digest)
    t1h = rollup_cascade(t1m, "1m", "1h", keys=keys)
    t1d = rollup_cascade(t1h, "1h", "1d", keys=keys)
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def resample_mean(
    df: DataFrame,
    interval: str = "5 minutes",
    ts_col: str = "timestamp",
    value_cols: tuple[str, ...] = ("value",),
    label_col: str | None = "ground_truth",
    ts_is_epoch: bool = True,
) -> DataFrame:
    """Exact reference semantics of TimeIntervalTransformPrimitive
    (tods/data_processing/TimeIntervalTransform.py:148-169): resample to
    `interval`, mean of value columns, resampled label binarized (>0 → 1),
    empty buckets dropped (pandas resample keeps them as NaN then the
    d3mIndex rebuild drops nothing — but mean of empty is NaN; we emit only
    non-empty buckets, matching the non-gap fixtures; gap semantics are
    handled by the dedicated gap-fill operator)."""
    ts = (
        F.timestamp_seconds(F.col(ts_col).cast("long"))
        if ts_is_epoch
        else F.col(ts_col)
    )
    aggs = [F.avg(c).alias(c) for c in value_cols]
    if label_col is not None:
        aggs.append(
            F.max(F.when(F.col(label_col) > 0, 1).otherwise(0)).alias(label_col)
        )
    return (
        df.groupBy(F.window(ts, interval).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *value_cols,
                *([label_col] if label_col else []))
    )


def refresh_tier(
    tier_df: DataFrame,
    late_raw: DataFrame,
    tier: str = "1h",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Incremental continuous-aggregate refresh on late-arriving raw rows
    (the TimescaleDB invalidation-log pattern): aggregate ONLY the late
    batch to tier partials, then merge them into the stored tier by the
    algebraic composition (cnt/sum add, min/max fold, avg re-derived).
    Equivalent to recomputing the tier from raw ∪ late — proven by the
    oracle twin — at the cost of the late batch, never a raw rescan.

    Scale shape (10^12-row raw, tier orders of magnitude smaller but
    still too big to shuffle casually): the late batch is one shuffle on
    (keys, window) with map-side combine; everything touching the TIER
    is a broadcast hash join against the late partials or their key set —
      * untouched rows: LEFT ANTI broadcast(affected windows),
      * affected rows:  INNER broadcast(partials), merged column-wise,
      * brand-new windows: partials LEFT ANTI broadcast(affected ∩ tier —
        computed from the inner side, itself late-sized).
    The tier is scanned once and never exchanged; in an Iceberg
    deployment the untouched branch is elided entirely by dynamic
    partition overwrite (only affected partitions rewrite — the
    checkpoint/lineage story in plans/checkpoint.py applies per refresh).
    """
    has_digest = "qdigest" in tier_df.columns
    late = rollup_raw(
        late_raw, tier, ts_col=ts_col, value_col=value_col, keys=keys,
        with_digest=has_digest,
    ).select(
        *keys,
        "window_start",
        F.col("cnt").alias("_l_cnt"),
        F.col("sum_n_tok").alias("_l_sum"),
        F.col("min_n_tok").alias("_l_min"),
        F.col("max_n_tok").alias("_l_max"),
        F.col("sum_sq_n_tok").alias("_l_sq"),
        *([F.col("qdigest").alias("_l_dig")] if has_digest else []),
    )
    dig = ["qdigest"] if has_digest else []
    if has_digest:
        # two-state digest merge (the rollup_cascade kernel, arity 2):
        # weights are the PRE-merge counts of each side
        @F.pandas_udf("array<double>")
        def merge2(a: pd.Series, ca: pd.Series, b: pd.Series,
                   cb: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    sketches.merge_digests(
                        [np.asarray(x, float), np.asarray(y, float)],
                        np.asarray([wx, wy], float),
                    )
                    for x, wx, y, wy in zip(a, ca, b, cb)
                ]
            )

    on = [*keys, "window_start"]
    # tier rows in affected windows, merged with their late partial
    touched = (
        tier_df.join(F.broadcast(late), on, "inner")
        .select(
            *on,
            F.lit(tier).alias("tier"),
            (F.col("cnt") + F.col("_l_cnt")).alias("cnt"),
            (F.col("sum_n_tok") + F.col("_l_sum")).alias("sum_n_tok"),
            F.least("min_n_tok", "_l_min").alias("min_n_tok"),
            F.greatest("max_n_tok", "_l_max").alias("max_n_tok"),
            (F.col("sum_sq_n_tok") + F.col("_l_sq")).alias("sum_sq_n_tok"),
            *(
                [merge2("qdigest", "cnt", "_l_dig", "_l_cnt")
                 .alias("qdigest")]
                if has_digest
                else []
            ),
        )
        .withColumn("avg_n_tok", F.col("sum_n_tok") / F.col("cnt"))
        .select(*on, "tier", *AGG_COLS, *dig)
    )
    # windows the tier has never seen: the late partial IS the tier row
    fresh = (
        late.join(F.broadcast(touched.select(*on)), on, "left_anti")
        .select(
            *on,
            F.lit(tier).alias("tier"),
            F.col("_l_cnt").alias("cnt"),
            F.col("_l_sum").alias("sum_n_tok"),
            F.col("_l_min").alias("min_n_tok"),
            F.col("_l_max").alias("max_n_tok"),
            (F.col("_l_sum") / F.col("_l_cnt")).alias("avg_n_tok"),
            F.col("_l_sq").alias("sum_sq_n_tok"),
            *([F.col("_l_dig").alias("qdigest")] if has_digest else []),
        )
        .select(*on, "tier", *AGG_COLS, *dig)
    )
    # rebuilt from state so the input tier needs only keys + window + the
    # five algebraic columns (derived tier/avg columns are optional)
    untouched = (
        tier_df.join(F.broadcast(late.select(*on)), on, "left_anti")
        .withColumn("avg_n_tok", F.col("sum_n_tok") / F.col("cnt"))
        .select(*on, F.lit(tier).alias("tier"), *AGG_COLS, *dig)
    )
    return untouched.unionByName(touched).unionByName(fresh)


def rollup_distinct(
    df: DataFrame,
    tier: str = "1m",
    ts_col: str = "ts",
    id_col: str = "user_id",
    keys: tuple[str, ...] = ("event_type",),
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count continuous aggregate: an HLL sketch of ``id_col``
    per (keys, window) — `hll_sketch_agg` (Apache DataSketches, built
    into Spark >= 3.5). COUNT(DISTINCT) is not algebraic, so it cannot
    ride the (cnt/sum/min/max) tier state; the sketch is its mergeable
    stand-in: tier N+1 unions tier N's sketches (`rollup_distinct_cascade`)
    and the union is REGISTER-EXACT — union(sketch(A), sketch(B)) has
    byte-identical state to sketch(A ∪ B) — so the cascade estimate
    equals the direct estimate exactly, not approximately (pytest-
    asserted). Error vs the TRUE distinct count is the standard HLL
    bound (~1.04/sqrt(2^lg_k) ≈ 1.6% at lg_k=12, ~2.5 KB per window).

    Scale shape: identical to rollup_raw — one shuffle with map-side
    partial sketches (each task ships <= windows-per-task sketches, never
    rows); the cascade is a tier-sized union. This is the engine answer
    to "how many distinct sequences/users per window at 10^12 rows" —
    an exact distinct would shuffle every id."""
    return (
        df.groupBy(*keys, F.window(ts_col, TIER_INTERVAL[tier]).alias("w"))
        .agg(F.hll_sketch_agg(id_col, F.lit(lg_k)).alias("hll"))
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.lit(tier).alias("tier"),
            "hll",
            F.hll_sketch_estimate("hll").alias("n_distinct_est"),
        )
    )


def rollup_distinct_cascade(
    tier_df: DataFrame,
    from_tier: str,
    to_tier: str,
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """tier N -> tier N+1 for the distinct sketch: union the child
    windows' HLL registers (max per register — associative, commutative,
    idempotent, hence also safe under retried/duplicated tier rows)."""
    assert TIER_SECONDS[to_tier] % TIER_SECONDS[from_tier] == 0
    parent = F.window("window_start", TIER_INTERVAL[to_tier])["start"]
    return (
        tier_df.groupBy(*keys, parent.alias("window_start"))
        .agg(F.hll_union_agg("hll").alias("hll"))
        .select(
            *keys,
            "window_start",
            F.lit(to_tier).alias("tier"),
            "hll",
            F.hll_sketch_estimate("hll").alias("n_distinct_est"),
        )
    )
