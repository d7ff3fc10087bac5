"""Gap-fill / continuity operators (SURVEY.md §2.9, FIXTURES.md F4).

``continuity_impute`` replicates ContinuityValidationPrimitive's
``imputation`` mode (tods/data_processing/ContinuityValidation.py:139-164):
for each adjacent pair with Δt ≠ interval, insert Δt/interval − 1 rows at
t1 + j·interval, value columns linearly interpolated
``v1 + (v2-v1)/blank · j``, label copied from the RIGHT neighbor.

The reference does this with an O(n²) per-row pandas append loop; here it is
``lead`` + ``sequence`` + ``explode`` — linear, codegen'd, one shuffle (the
partitionBy/orderBy). One input row explodes into `blank` output rows; Spark
streams the generator, so a pathological gap doesn't materialize on the
driver.

``continuity_ablate`` replicates the ``ablation`` mode
(ContinuityValidation.py:84-136): keep only the longest run sampled at a
constant multiple of the minimum interval — expressed as interval-mode
detection via window lag + filter.

``gap_fill_tier`` is the engine's tumbling-window variant for rollup tiers
(north star: "gap-fill via tumbling-window interpolation"): synthesize the
missing (key, window) grid with sequence/explode and fill aggregates by
linear interpolation between the neighboring observed windows (counts get 0;
min/max/sums get interpolated means scaled or null per policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def continuity_impute(
    df: DataFrame,
    ts_col: str = "timestamp",
    value_cols: tuple[str, ...] = ("value",),
    label_col: str | None = "ground_truth",
    interval: float = 1.0,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(ts_col)
    t1 = F.col(ts_col).cast("double")
    t2 = F.lead(t1).over(w)
    blank = F.round((t2 - t1) / F.lit(float(interval))).cast("long")
    df2 = df.withColumn("__blank__", F.coalesce(blank, F.lit(1)))
    for c in value_cols:
        df2 = df2.withColumn(f"__next_{c}__", F.lead(F.col(c).cast("double")).over(w))
    if label_col is not None:
        df2 = df2.withColumn("__next_g__", F.lead(label_col).over(w))

    df2 = df2.withColumn(
        "__j__",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col("__blank__"), F.lit(1)) - 1)),
    )
    j = F.col("__j__").cast("double")
    out_ts = (t1 + j * F.lit(float(interval))).alias(ts_col)
    cols = []
    for c in df.columns:
        if c == ts_col:
            cols.append(out_ts)
        elif c in value_cols:
            v1 = F.col(c).cast("double")
            v2 = F.col(f"__next_{c}__")
            interp = v1 + (v2 - v1) / F.col("__blank__").cast("double") * j
            cols.append(F.when(F.col("__j__") == 0, v1).otherwise(interp).alias(c))
        elif label_col is not None and c == label_col:
            cols.append(
                F.when(F.col("__j__") == 0, F.col(c))
                .otherwise(F.col("__next_g__"))
                .alias(c)
            )
        else:
            # non-interpolated carry: left row's value (reference copies the
            # appended row from scratch; d3mIndex is rebuilt downstream)
            cols.append(F.col(c))
    return df2.select(*[F.col(k) for k in keys if k not in df.columns], *cols)


def continuity_ablate(
    df: DataFrame,
    ts_col: str = "timestamp",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Keep rows on the dominant regular grid: find the modal interval
    (ContinuityValidation ablation picks the longest constant-interval
    subsequence; at scale the modal-interval grid filter is the distributed
    equivalent) and keep rows whose ts lies on that grid phase."""
    w = Window.partitionBy(*keys).orderBy(ts_col)
    t = F.col(ts_col).cast("double")
    with_iv = df.withColumn("__iv__", t - F.lag(t).over(w))
    mode_iv = (
        with_iv.filter(F.col("__iv__").isNotNull())
        .groupBy(*keys, "__iv__")
        .count()
        .withColumn(
            "__rk__",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.desc("count"), "__iv__")
            ),
        )
        .filter(F.col("__rk__") == 1)
        .select(*keys, F.col("__iv__").alias("__mode_iv__"))
    )
    joined = (
        with_iv.join(F.broadcast(mode_iv), list(keys), "inner")
        if keys
        else with_iv.crossJoin(F.broadcast(mode_iv))
    )
    return (
        joined.filter(
            (F.col("__iv__").isNull()) | (F.col("__iv__") == F.col("__mode_iv__"))
        )
        .drop("__iv__", "__mode_iv__")
    )


def gap_fill_tier(
    tier_df: DataFrame,
    interval_sec: int,
    keys: tuple[str, ...] = ("source",),
    interp_cols: tuple[str, ...] = ("avg_n_tok",),
    zero_cols: tuple[str, ...] = ("cnt",),
    window_col: str = "window_start",
    chunk_intervals: int = 1024,
) -> DataFrame:
    """Fill missing tumbling windows per key with interpolated aggregates.

    Grid synthesis is per-key `sequence(min, max, interval)` + explode (one
    row per key in, |windows| rows out — never a driver loop); the join back
    to observed windows is an equi-join on (keys, window_start). Filled rows
    get `is_gap = true`, cnt-like cols 0, interp cols linear between the
    previous/next observed windows (the tumbling-window interpolation of the
    north star).

    Parallelism (optimization round 7, guide §2.5): the interpolation
    windows previously partitioned by ``keys`` alone, so the whole fill ran
    on at most |keys| tasks — one key's calendar span (years of minutes at
    production retention) landed on ONE task, and the 2→8 scaling sessions
    measured the stage as quasi-serial time. The windows now partition by
    (keys, chunk) where chunk groups ``chunk_intervals`` consecutive grid
    slots, and the cross-chunk carry (the last/next observed value beyond
    the chunk edge) is reconstructed from a per-(key, chunk) boundary table
    — |keys|×|chunks| rows, orders of magnitude smaller than the grid —
    with one window over that table and an equi-join back on the window's
    own (keys, chunk) partitioning. Results are identical (same global
    prev/next observed points, same formula); parallelism becomes
    |keys| × |chunks|. ``chunk_intervals=0`` restores the per-key windows;
    a negative value raises ValueError (it would order the chunks backwards
    and interpolate from future rows).
    """
    if chunk_intervals < 0:
        raise ValueError(
            f"chunk_intervals must be >= 0, got {chunk_intervals}"
        )
    span = tier_df.groupBy(*keys).agg(
        F.min(window_col).alias("__lo__"), F.max(window_col).alias("__hi__")
    )
    grid = span.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("__lo__"),
                F.col("__hi__"),
                F.expr(f"INTERVAL {interval_sec} SECONDS"),
            )
        ).alias(window_col),
    )
    joined = grid.join(tier_df, [*keys, window_col], "left").withColumn(
        "is_gap", F.col(zero_cols[0]).isNull() if zero_cols else F.lit(False)
    )
    ts = F.col(window_col).cast("double")
    if not chunk_intervals:
        w = Window.partitionBy(*keys).orderBy(window_col)
        for c in interp_cols:
            prev_v = F.last(c, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            prev_t = F.last(
                F.when(F.col(c).isNotNull(), ts), ignorenulls=True
            ).over(w.rowsBetween(Window.unboundedPreceding, 0))
            next_v = F.first(c, ignorenulls=True).over(
                w.rowsBetween(0, Window.unboundedFollowing)
            )
            next_t = F.first(
                F.when(F.col(c).isNotNull(), ts), ignorenulls=True
            ).over(w.rowsBetween(0, Window.unboundedFollowing))
            frac = (ts - prev_t) / (next_t - prev_t)
            interp = F.when(
                F.col(c).isNotNull(), F.col(c)
            ).otherwise(
                F.when(next_t == prev_t, prev_v).otherwise(
                    F.coalesce(prev_v + (next_v - prev_v) * frac,
                               prev_v, next_v)
                )
            )
            joined = joined.withColumn(c, interp)
        for c in zero_cols:
            joined = joined.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
        return joined

    chunk = (
        F.floor(F.col(window_col).cast("long")
                / F.lit(int(interval_sec) * int(chunk_intervals)))
        .alias("__chk__")
    )
    joined = joined.withColumn("__chk__", chunk)
    # per-(key, chunk) boundary summary, computed from the PRE-window rows
    # (the observed tier points themselves), so this branch is a plain
    # hash aggregate over the window's reused exchange — it never re-runs
    # the window pass: last/first observed (ts, value) per chunk via
    # max/min over when(observed, struct(ts, v)) (nulls never win)
    bnd = joined.groupBy(*keys, "__chk__").agg(
        *[
            agg_fn(
                F.when(F.col(c).isNotNull(),
                       F.struct(ts.alias("t"), F.col(c).alias("v")))
            )[fld].alias(name.format(c=c))
            for c in interp_cols
            for agg_fn, fld, name in (
                (F.max, "v", "__last_{c}_v__"),
                (F.max, "t", "__last_{c}_pt__"),
                (F.min, "v", "__first_{c}_v__"),
                (F.min, "t", "__first_{c}_nt__"),
            )
        ],
    )
    wc = Window.partitionBy(*keys, "__chk__").orderBy(window_col)
    # pass 1: within-chunk prev/next observed (value, ts) per interp col
    local_cols = []
    for c in interp_cols:
        joined = (
            joined.withColumn(
                f"__pv_{c}__",
                F.last(c, ignorenulls=True)
                .over(wc.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .withColumn(
                f"__pt_{c}__",
                F.last(F.when(F.col(c).isNotNull(), ts), ignorenulls=True)
                .over(wc.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .withColumn(
                f"__nv_{c}__",
                F.first(c, ignorenulls=True)
                .over(wc.rowsBetween(0, Window.unboundedFollowing)),
            )
            .withColumn(
                f"__nt_{c}__",
                F.first(F.when(F.col(c).isNotNull(), ts), ignorenulls=True)
                .over(wc.rowsBetween(0, Window.unboundedFollowing)),
            )
        )
        local_cols += [f"__pv_{c}__", f"__pt_{c}__",
                       f"__nv_{c}__", f"__nt_{c}__"]
    # pass 2: cross-chunk carry over the SMALL boundary table — per key,
    # the last observed at/before the previous chunk's end and the first
    # observed at/after the next chunk's start
    wb = Window.partitionBy(*keys).orderBy("__chk__")
    carry_cols = []
    for c in interp_cols:
        bnd = (
            bnd.withColumn(
                f"__cpv_{c}__",
                F.last(f"__last_{c}_v__", ignorenulls=True)
                .over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            )
            .withColumn(
                f"__cpt_{c}__",
                F.last(f"__last_{c}_pt__", ignorenulls=True)
                .over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            )
            .withColumn(
                f"__cnv_{c}__",
                F.first(f"__first_{c}_v__", ignorenulls=True)
                .over(wb.rowsBetween(1, Window.unboundedFollowing)),
            )
            .withColumn(
                f"__cnt_{c}__",
                F.first(f"__first_{c}_nt__", ignorenulls=True)
                .over(wb.rowsBetween(1, Window.unboundedFollowing)),
            )
        )
        carry_cols += [f"__cpv_{c}__", f"__cpt_{c}__",
                       f"__cnv_{c}__", f"__cnt_{c}__"]
    joined = joined.join(
        bnd.select(*keys, "__chk__", *carry_cols), [*keys, "__chk__"], "left"
    )
    for c in interp_cols:
        prev_v = F.coalesce(F.col(f"__pv_{c}__"), F.col(f"__cpv_{c}__"))
        prev_t = F.coalesce(F.col(f"__pt_{c}__"), F.col(f"__cpt_{c}__"))
        next_v = F.coalesce(F.col(f"__nv_{c}__"), F.col(f"__cnv_{c}__"))
        next_t = F.coalesce(F.col(f"__nt_{c}__"), F.col(f"__cnt_{c}__"))
        frac = (ts - prev_t) / (next_t - prev_t)
        interp = F.when(
            F.col(c).isNotNull(), F.col(c)
        ).otherwise(
            F.when(next_t == prev_t, prev_v).otherwise(
                F.coalesce(prev_v + (next_v - prev_v) * frac, prev_v, next_v)
            )
        )
        joined = joined.withColumn(c, interp)
    for c in zero_cols:
        joined = joined.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return joined.drop("__chk__", *local_cols, *carry_cols)
