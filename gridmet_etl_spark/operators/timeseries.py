"""Time-series operators over the long-form grid / events tables:
climatological anomalies and gap-filling by linear interpolation.

Both echo reference semantics (rmcd-mscb/gridmet-etl fills missing feature
days from donor cells — gridmet_etl/etl.py missingness handling — and its
downstream consumers work in anomaly space) but are expressed as Spark
window plans:

- ``climatology_anomaly``: one shuffle on the climatology key (cell), then
  a window average — no self-join, no second scan. At 100 TB the partition
  count is |cells| (millions of small groups), the shape AQE coalesces
  well.
- ``gap_fill_linear``: per-key ordered window; prev/next non-null
  neighbors come from ONE struct carried by last/first(ignorenulls) so
  value and timestamp always originate from the same row (the asof-join
  composite-row lesson). Both frames share the partition ordering → a
  single sort, no extra shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def climatology_anomaly(
    grid: DataFrame,
    keys: Sequence[str] = ("var", "i", "j"),
    value_col: str = "value",
) -> DataFrame:
    """Per-cell climatology (mean over the time dimension) and the anomaly
    of each observation against it. Output adds ``clim`` and ``anomaly``
    columns; rounding is the contract edge's concern."""
    w = Window.partitionBy(*[F.col(k) for k in keys])
    clim = F.avg(value_col).over(w)
    return grid.select(
        *grid.columns,
        clim.alias("clim"),
        (F.col(value_col) - clim).alias("anomaly"),
    )


def resample_time(
    df: DataFrame,
    freq: str = "week",
    keys: Sequence[str] = ("var", "ens", "i", "j"),
    ts_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Downsample a long-form series to ``freq`` buckets (``date_trunc``
    units: week/month/quarter/...) with count/mean/min/max per bucket.

    One partially-aggregated shuffle on (keys, bucket) — output-sized, like
    the core weighted aggregation; NULL observations count toward ``n_obs``
    via a separate count so gap density is visible per bucket."""
    bucket = F.date_trunc(freq, F.col(ts_col).cast("timestamp"))
    v = F.col(value_col)
    return (
        df.groupBy(*[F.col(k) for k in keys], bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count(v).alias("n_obs"),
            F.avg(v).alias("vmean"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )
    )


def _guarded(ts_us: Column, v: Column) -> Column:
    """NULL unless the value is present; ties (t, v) into one struct so the
    ignorenulls scan can never mix fields from different rows."""
    return F.when(v.isNotNull(), F.struct(ts_us.alias("t"), v.alias("v")))


def gap_fill_linear(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    ts_col: str,
    value_col: str,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Fill NULL values per key by linear interpolation between the nearest
    preceding and following non-null observations (forward/backward fill at
    the series edges). Time arithmetic is in microseconds.

    Output adds ``t_us`` (epoch micros), ``was_null`` and ``filled``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v = F.col(value_col)
    base = df.withColumn("t_us", t).withColumn("_g", _guarded(F.col("t_us"), v))
    w = Window.partitionBy(*keys).orderBy("t_us", *order_cols)
    prev = F.last("_g", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.first("_g", ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    frac = (F.col("t_us") - prev["t"]).cast("double") / (
        (nxt["t"] - prev["t"]).cast("double")
    )
    # equal-timestamp neighbors would divide by zero (engine-dependent):
    # degenerate to the preceding value
    interp = F.when(nxt["t"] == prev["t"], prev["v"]).otherwise(
        prev["v"] + (nxt["v"] - prev["v"]) * frac
    )
    filled = F.coalesce(v, interp, prev["v"], nxt["v"])
    return (
        base.withColumn("was_null", v.isNull())
        .withColumn("filled", filled)
        .drop("_g")
    )


def trend_slope(
    grid: DataFrame,
    keys: Sequence[str] = ("var", "i", "j"),
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Per-series OLS linear trend (the climate trend-analysis primitive:
    slope of value over time in units/day, plus intercept and Pearson r).
    Native ``regr_slope``/``regr_intercept``/``corr`` aggregates — one
    shuffle keyed on the series id with map-side partials (each partial
    carries the 6 OLS moments, constant size), so shuffle volume is
    |series|-sized regardless of history length.

    Output: (keys…, slope, intercept, r, n_obs); slope per DAY of epoch
    time, rounded to 6.
    """
    keys = list(keys)
    x = F.unix_date(F.col(time_col).cast("date")).cast("double")
    v = F.col(value_col)
    # Pearson r from moments rather than F.corr: ANSI mode makes corr
    # RAISE on a zero-variance series (constant value at a cell); the
    # guarded covar/stddev form yields NULL there, matching SQL corr
    agg = grid.groupBy(*keys).agg(
        F.round(F.regr_slope(v, x), 6).alias("slope"),
        F.round(F.regr_intercept(v, x), 6).alias("intercept"),
        F.covar_samp(v, x).alias("_cov"),
        F.stddev_samp(v).alias("_sv"),
        # pairwise-complete like SQL corr: x rows where v is NULL must not
        # contribute to sigma_x
        F.stddev_samp(F.when(v.isNotNull(), x)).alias("_sx"),
        F.count(v).alias("n_obs"),
    )
    r = F.when(
        (F.col("_sv") > 0) & (F.col("_sx") > 0),
        F.round(F.col("_cov") / (F.col("_sv") * F.col("_sx")), 6),
    )
    return agg.select(*keys, "slope", "intercept", r.alias("r"), "n_obs")


def cross_correlation(
    grid: DataFrame,
    var_a: str,
    var_b: str,
    keys: Sequence[str] = ("i", "j"),
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Per-cell Pearson correlation between two variables' time series
    (e.g. tmmx vs sph coupling). Self-join-free: pivot the two variables
    into one row per (cell, time) via conditional aggregation (FIRST over
    a filtered value — one shuffle), then ``corr`` per cell (second
    shuffle, |cells|-sized).

    Output: (keys…, r, n_obs) for cells where both series observed.
    """
    keys = list(keys)
    v = F.col(value_col)
    paired = (
        grid.where(F.col("var").isin(var_a, var_b))
        .groupBy(*keys, F.col(time_col))
        .agg(
            F.first(F.when(F.col("var") == var_a, v), ignorenulls=True).alias("_a"),
            F.first(F.when(F.col("var") == var_b, v), ignorenulls=True).alias("_b"),
        )
        .where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    )
    # same ANSI-safe moment form as trend_slope (F.corr raises on a
    # zero-variance side; this yields NULL like SQL corr)
    agg = paired.groupBy(*keys).agg(
        F.covar_samp("_a", "_b").alias("_cov"),
        F.stddev_samp("_a").alias("_sa"),
        F.stddev_samp("_b").alias("_sb"),
        F.count("*").alias("n_obs"),
    )
    r = F.when(
        (F.col("_sa") > 0) & (F.col("_sb") > 0),
        F.round(F.col("_cov") / (F.col("_sa") * F.col("_sb")), 6),
    )
    return agg.select(*keys, r.alias("r"), "n_obs")


def degree_days(
    grid: DataFrame,
    base_c: float = 18.3,
    tmax_var: str = "tmmx",
    tmin_var: str = "tmmn",
    keys: Sequence[str] = ("i", "j"),
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Heating/cooling degree days from daily temperature extremes: the
    daily mean T = (tmax + tmin)/2 (°C; inputs are K per the reference's
    gridMET convention, converted at this edge), HDD = Σ max(0, base − T),
    CDD = Σ max(0, T − base) per cell per month.

    Two bounded shuffles: conditional-agg pairing of the two variables per
    (cell, day) — the same no-self-join shape as cross_correlation — then
    the monthly rollup (output-sized, map-side partials).

    Output: (keys…, month, hdd, cdd, n_days).
    """
    from ..functions.units import kelvin_to_celsius

    keys = list(keys)
    v = F.col(value_col)
    paired = (
        grid.where(F.col("var").isin(tmax_var, tmin_var))
        .groupBy(*keys, F.col(time_col))
        .agg(
            F.first(F.when(F.col("var") == tmax_var, v), ignorenulls=True).alias("_tx"),
            F.first(F.when(F.col("var") == tmin_var, v), ignorenulls=True).alias("_tn"),
        )
        .where(F.col("_tx").isNotNull() & F.col("_tn").isNotNull())
    )
    t_mean = (kelvin_to_celsius(F.col("_tx")) + kelvin_to_celsius(F.col("_tn"))) / 2
    daily = paired.select(
        *keys,
        F.date_trunc("month", F.col(time_col)).cast("date").alias("month"),
        t_mean.alias("_t"),
    )
    return daily.groupBy(*keys, "month").agg(
        F.round(F.sum(F.greatest(F.lit(base_c) - F.col("_t"), F.lit(0.0))), 6).alias("hdd"),
        F.round(F.sum(F.greatest(F.col("_t") - F.lit(base_c), F.lit(0.0))), 6).alias("cdd"),
        F.count("*").alias("n_days"),
    )


def theilsen_trend(
    grid: DataFrame,
    keys: Sequence[str] = ("var", "i", "j"),
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Theil–Sen robust trend per series: the MEDIAN of all pairwise
    slopes (vⱼ−vᵢ)/(xⱼ−xᵢ), xᵢ = epoch days — insensitive to outliers
    where OLS (trend_slope) is dragged. No closed-form aggregate exists,
    so this is the repo's one GROUPED-MAP Arrow kernel with a full oracle:
    ``applyInPandas`` receives each series as a pandas frame, numpy
    broadcasts the pairwise slope matrix, ``np.median`` interpolates even
    counts exactly like SQL ``quantile_cont`` — bit-comparable across
    engines at 6 decimals.

    Scale: one shuffle keyed on the series id; per-group work is
    O(n²) in SERIES LENGTH (bounded: 365·years points per cell — subsample
    pairs for multi-decade dailies), never corpus-sized. NULL values drop
    per pair like SQL arithmetic.

    Output: (keys…, slope, n_pairs).
    """
    import numpy as np
    import pandas as pd

    keys = list(keys)
    out_fields = ", ".join(f"{k} string" if k == "var" else f"{k} int" for k in keys)
    schema = f"{out_fields}, slope double, n_pairs long"

    # pair-index cache: every same-length series shares one triu allocation
    # (the 3,650-series bench otherwise rebuilds 8k indices per group)
    _triu_cache: dict[int, tuple] = {}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf.dropna(subset=[value_col])
        # vectorized epoch-day conversion (datetime64[D] -> int days);
        # the old per-element Timestamp.toordinal map dominated runtime
        x = (
            np.asarray(pd.to_datetime(sub[time_col]).to_numpy(), dtype="datetime64[D]")
            .astype(np.int64)
            .astype(np.float64)
        )
        y = sub[value_col].to_numpy(dtype=np.float64)
        n = len(y)
        head = {k: [pdf[k].iloc[0]] for k in keys}
        if n < 2:
            return pd.DataFrame({**head, "slope": [None], "n_pairs": [0]})
        if n not in _triu_cache:
            _triu_cache[n] = np.triu_indices(n, k=1)
        ii, jj = _triu_cache[n]
        valid = x[jj] != x[ii]
        slopes = (y[jj][valid] - y[ii][valid]) / (x[jj][valid] - x[ii][valid])
        if not len(slopes):
            return pd.DataFrame({**head, "slope": [None], "n_pairs": [0]})
        return pd.DataFrame(
            {
                **head,
                "slope": [round(float(np.median(slopes)), 6)],
                "n_pairs": [int(len(slopes))],
            }
        )

    # pin the grouped-map parallelism: the kernel is COMPUTE-bound (O(n²)
    # pairs per series) while its shuffle is byte-tiny, so AQE coalesces it
    # onto a few tasks and strands the other cores (measured 9/32 tasks →
    # 3× slower on the 3,650-series bench). An explicit user repartition on
    # the grouping keys satisfies applyInPandas' clustering requirement
    # (no second exchange) and is exempt from AQE coalescing.
    n_parts = grid.sparkSession.sparkContext.defaultParallelism * 2
    return (
        grid.select(*keys, time_col, value_col)
        .repartition(n_parts, *keys)
        .groupBy(*keys)
        .applyInPandas(kernel, schema)
    )


def autocorrelation(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 7),
) -> DataFrame:
    """Per-series lag-k autocorrelation (ACF) for each k in ``lags``:
    Pearson correlation between the series and its k-step-shifted self,
    pairwise-complete (only positions where both ends exist contribute).

    Plan: ONE shuffle keyed by the series id; all lags share the same
    window sort (lag() expressions over one partition ordering), then the
    moments aggregate is map-side partial — per-series output is |lags|
    constant-size rows. The assumption is a regularly-sampled series
    (positions, not timestamps, define the lag — resample first if not).

    Output: (keys…, lag, acf, n_pairs); acf is NULL when either side of
    the lagged pair set has zero variance.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(order_col)
    lagged = df.select(
        *keys,
        order_col,
        F.col(value_col).alias("_v"),
        *[F.lag(value_col, k).over(w).alias(f"_l{k}") for k in lags],
    )
    # moments per (series, lag) computed in one agg over the lag-struct
    pairs = lagged.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col("_v").alias("y"),
                        F.col(f"_l{k}").alias("x"),
                    )
                    for k in lags
                ]
            )
        ).alias("p"),
    ).select(*keys, "p.lag", "p.y", "p.x").where(F.col("x").isNotNull())
    agg = pairs.groupBy(*keys, "lag").agg(
        F.covar_samp("y", "x").alias("_cov"),
        F.stddev_samp("y").alias("_sy"),
        F.stddev_samp("x").alias("_sx"),
        F.count("*").alias("n_pairs"),
    )
    acf = F.when(
        (F.col("_sy") > 0) & (F.col("_sx") > 0),
        F.round(F.col("_cov") / (F.col("_sy") * F.col("_sx")), 6),
    )
    return agg.select(*keys, "lag", acf.alias("acf"), "n_pairs")


def ewma_truncated(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    half_life_days: float = 7.0,
    window_days: int = 14,
) -> DataFrame:
    """Truncated exponentially-weighted moving average over a daily series:
    ``ewma_d = Σ_{k=0..W-1} w_k · x_{d-k} / Σ w_k`` with
    ``w_k = 0.5^(k/half_life)``, summed over the days that EXIST in the
    window (gap-tolerant — weights renormalize over present days).

    Truncation makes the statistic exactly computable by both engines (a
    full-history EWMA is order-dependent recursion); W=14 at half-life 7
    keeps 75% of the untruncated mass. Plan: a range-bounded self-join on
    day distance (≤ W-row fan-out per row, pipelined) then one
    partially-aggregated shuffle keyed (series, day) — output-sized, the
    same shape as the rolling operators.
    """
    keys = list(keys)
    base = df.select(
        *keys,
        F.col(day_col).alias("day"),
        F.col(value_col).alias("x"),
    )
    contrib = base.alias("c")
    anchor = base.select(*keys, "day").alias("a")
    dist = F.datediff(F.col("a.day"), F.col("c.day"))
    joined = anchor.join(
        contrib,
        [F.col(f"a.{k}") == F.col(f"c.{k}") for k in keys]
        + [dist >= 0, dist < window_days],
    )
    wgt = F.pow(F.lit(0.5), dist.cast("double") / F.lit(half_life_days))
    return (
        joined.groupBy(*[F.col(f"a.{k}").alias(k) for k in keys], F.col("a.day").alias("day"))
        .agg(
            F.round(
                F.sum(wgt * F.col("c.x")) / F.sum(wgt), 6
            ).alias("ewma"),
            F.count("*").alias("n_in_window"),
        )
    )


def runs_above_threshold(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    threshold: float,
    min_len: int = 2,
) -> DataFrame:
    """Gaps-and-islands run detection: maximal runs of CONSECUTIVE days with
    ``value_col > threshold`` per series (heat waves, dry spells, outage
    streaks). The classic anchor trick — ``day_number - row_number`` is
    constant within a consecutive run — turns run detection into one window
    plus one aggregate, both keyed by the series id (ONE shuffle; no
    self-joins). Output: (keys…, run_start, run_end, run_len, peak).
    """
    keys = list(keys)
    above = df.where(F.col(value_col) > threshold).select(
        *keys, F.col(day_col).alias("day"), F.col(value_col).alias("v")
    )
    w = Window.partitionBy(*keys).orderBy("day")
    anchored = above.withColumn(
        "_anchor", F.unix_date(F.col("day")) - F.row_number().over(w)
    )
    runs = anchored.groupBy(*keys, "_anchor").agg(
        F.min("day").alias("run_start"),
        F.max("day").alias("run_end"),
        F.count("*").alias("run_len"),
        F.round(F.max("v"), 6).alias("peak"),
    )
    return runs.where(F.col("run_len") >= min_len).drop("_anchor")


def rolling_zscore(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    window: int = 3,
) -> DataFrame:
    """SPI-shaped index: ``window``-day rolling sum per series, standardized
    against that series' own rolling-sum distribution (the Standardized
    Precipitation Index computation pattern, with the gamma fit replaced by
    the z-score normal approximation so both engines agree exactly).

    Both windows (rolling frame + whole-series stats) share ONE partition
    ordering → one shuffle keyed by the series. Only complete windows
    qualify. Output: (keys…, day, roll_sum, z); z NULL on zero variance.
    """
    keys = list(keys)
    frame = (
        Window.partitionBy(*keys).orderBy("day").rowsBetween(-(window - 1), 0)
    )
    rolled = (
        df.select(*keys, F.col(day_col).alias("day"), F.col(value_col).alias("v"))
        .withColumn("roll_sum", F.sum("v").over(frame))
        .withColumn("_cnt", F.count("*").over(frame))
        .where(F.col("_cnt") == window)
    )
    w_all = Window.partitionBy(*keys)
    out = rolled.select(
        *keys,
        "day",
        F.col("roll_sum").alias("_roll"),
        F.avg("roll_sum").over(w_all).alias("_mu"),
        F.stddev_samp("roll_sum").over(w_all).alias("_sd"),
    )
    # standardize the UNROUNDED sum; round only at the display edge (the
    # oracle does the same — rounding before the divide shifts z at 1e-6)
    # + 0.0 normalizes IEEE -0.0 (a roll_sum sitting just under its mean
    # rounds to it) for cross-engine value parity
    z = F.when(
        F.col("_sd") > 0,
        F.round((F.col("_roll") - F.col("_mu")) / F.col("_sd"), 6) + F.lit(0.0),
    )
    return out.select(
        *keys, "day", F.round("_roll", 6).alias("roll_sum"), z.alias("z")
    )


def seasonal_decompose(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition (classical, moving-average flavor):
    ``value = trend + seasonal + resid`` per series —

    - trend: centered ``period``-point moving average (full windows only),
    - seasonal: mean of the detrended values per phase (day-index mod
      period — engine-portable integer arithmetic, no locale-dependent
      day-of-week functions),
    - resid: what remains.

    Plan: the rolling window and the phase aggregate both key on the
    series id — one sort-shuffle for the window, one |series|×period
    shuffle for the seasonal means joined back broadcast-style. Output:
    (keys…, day, value, trend, seasonal, resid) for trend-complete rows;
    rounding at the display edge only.
    """
    keys = list(keys)
    half = period // 2
    w = Window.partitionBy(*keys).orderBy("day").rowsBetween(-half, half)
    base = df.select(
        *keys, F.col(day_col).alias("day"), F.col(value_col).cast("double").alias("v")
    )
    trended = (
        base.withColumn("_trend", F.avg("v").over(w))
        .withColumn("_cnt", F.count("*").over(w))
        .where(F.col("_cnt") == period)
        .withColumn("_det", F.col("v") - F.col("_trend"))
        .withColumn("_phase", F.pmod(F.unix_date("day"), period))
    )
    seasonal = trended.groupBy(*keys, "_phase").agg(
        F.avg("_det").alias("_seasonal")
    )
    out = trended.join(seasonal, [*keys, "_phase"])
    # + 0.0: seasonal/resid hover around zero and round to -0.0 differently
    # across engines (the spi_index lesson)
    return out.select(
        *keys,
        "day",
        F.round("v", 6).alias("value"),
        F.round("_trend", 6).alias("trend"),
        (F.round("_seasonal", 6) + F.lit(0.0)).alias("seasonal"),
        (F.round(F.col("_det") - F.col("_seasonal"), 6) + F.lit(0.0)).alias("resid"),
    )


def resample_ohlc(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Daily OHLC (open/high/low/close) resampling of a tick series — the
    finance-style downsample. OPEN/CLOSE are time-argmin/argmax via
    ``min_by``/``max_by`` (single aggregate pass, no window, no
    self-join); one output-sized partial-agg shuffle keyed
    (keys…, day). Assumes unique timestamps per series (tick data)."""
    keys = list(keys)
    day = F.to_date(F.col(ts_col)).alias("day")
    v = F.col(value_col)
    return df.groupBy(*keys, day).agg(
        F.round(F.min_by(v, F.col(ts_col)), 6).alias("open"),
        F.round(F.max(v), 6).alias("high"),
        F.round(F.min(v), 6).alias("low"),
        F.round(F.max_by(v, F.col(ts_col)), 6).alias("close"),
        F.count("*").alias("n_ticks"),
    )


def time_weighted_avg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted mean for irregularly sampled series (the TWAP/zero-
    order-hold aggregate a plain ``avg`` gets wrong when observation
    spacing varies): each observation holds its value until the next one
    in the same group, so its weight is that gap in microseconds; the
    group's final observation spans no interval and carries zero weight.
    Groups with a single observation have no integrable span -> NULL.

    Plan: one lead window + one partial-agg groupBy, both keyed by
    ``keys`` — a single series-keyed shuffle, same budget as any grouped
    aggregate. ``timestampdiff`` reads timestamp fields directly (tz/ntz
    safe, no session-zone cast). Ties on ``ts_col`` order by value for a
    deterministic hold sequence."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(value_col))
    gap = F.expr(
        f"timestampdiff(MICROSECOND, {ts_col}, _nxt)"
    )
    stepped = df.withColumn("_nxt", F.lead(ts_col).over(w)).withColumn(
        "_dt", F.when(F.col("_nxt").isNotNull(), gap).otherwise(F.lit(None))
    )
    return stepped.groupBy(*keys).agg(
        F.round(
            F.sum(F.col(value_col) * F.col("_dt")) / F.sum("_dt"), 6
        ).alias("twap"),
        F.count("*").alias("n_obs"),
    )


def cusum_changepoints(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    threshold_sigmas: float = 4.0,
    drift_sigmas: float = 0.5,
) -> DataFrame:
    """Tabular CUSUM change-point detection per series: one-sided upper/
    lower cumulative sums of standardized deviations with drift k,
    flagging points where either statistic exceeds h·σ (in standardized
    units). The monitoring primitive for regime shifts in daily metric
    series (a level change keeps feeding the cusum faster than the drift
    bleeds it).

    s⁺_t = max(0, s⁺_{t-1} + z_t − k),  s⁻_t = min(0, s⁻_{t-1} + z_t + k)

    The running max(0, ·) recursion is not a plain window sum, but it has
    the classic prefix-form: s⁺_t = c_t − min_{τ ≤ t}(c_τ) capped at the
    last reset, where c_t = Σ(z−k) — equivalently a cumulative sum minus
    its running minimum (running max for the lower side). That makes the
    whole operator TWO stacked window passes per side over the series
    partitioning — no recursion, no UDF, same plan shape both engines.

    Per-series mean/std come from a broadcast pre-aggregate (two-pass
    standardization — deterministic, unlike a streaming estimate). Output:
    one row per flagged point (group, order, value, z, cusum_pos,
    cusum_neg, direction).
    """
    g = list(group_cols)
    stats = df.groupBy(*g).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sd"),
    )
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sd")
    base = (
        df.join(F.broadcast(stats), g)
        .where(F.col("_sd") > 0)
        .withColumn("_z", z)
    )
    w = Window.partitionBy(*g).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = F.lit(float(drift_sigmas))
    up_c = F.sum(F.col("_z") - k).over(w)
    lo_c = F.sum(F.col("_z") + k).over(w)
    stepped = base.withColumn("_uc", up_c).withColumn("_lc", lo_c)
    run_min = F.min(F.least(F.col("_uc"), F.lit(0.0))).over(w)
    run_max = F.max(F.greatest(F.col("_lc"), F.lit(0.0))).over(w)
    h = float(threshold_sigmas)
    out = (
        stepped.withColumn("cusum_pos", F.col("_uc") - run_min)
        .withColumn("cusum_neg", F.col("_lc") - run_max)
        .where((F.col("cusum_pos") > h) | (F.col("cusum_neg") < -h))
    )
    return out.select(
        *g,
        order_col,
        value_col,
        F.round("_z", 6).alias("z"),
        F.round("cusum_pos", 6).alias("cusum_pos"),
        F.round("cusum_neg", 6).alias("cusum_neg"),
        F.when(F.col("cusum_pos") > h, F.lit("up")).otherwise(F.lit("down")).alias("direction"),
    )


def rolling_quantile(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    q: float = 0.5,
    frame_rows: int = 7,
) -> DataFrame:
    """Exact rolling quantile (default: 7-point median) per series — the
    robust alternative to a rolling mean for spiky metrics. Uses the
    EXACT ``percentile`` aggregate over a bounded row frame: the frame is
    ``frame_rows`` values, so per-row cost is O(frame log frame) and the
    plan is one series-keyed window pass (no UDF; DuckDB's
    ``quantile_cont`` over the same frame is the bit-identical twin —
    both engines linearly interpolate at rank q·(n−1)).

    Output: input columns + ``roll_q``.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(-(frame_rows - 1), Window.currentRow)
    )
    return df.withColumn(
        "roll_q", F.expr(f"percentile({value_col}, {q!r})").over(w)
    )


def forecast_backtest(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    season: int = 7,
    test_days: int = 28,
    ndigits: int = 6,
) -> DataFrame:
    """Rolling-origin backtest of the two standard baseline forecasters —
    naive (yesterday's actual) and seasonal-naive (the actual one season
    back) — scored with sMAPE over the trailing ``test_days`` holdout.
    The pipeline gate every learned forecaster must beat.

    Mechanics: the holdout is the last ``test_days`` days of the GLOBAL
    calendar (one broadcast max-day aggregate — a shared split keeps the
    eval window aligned across series). Each model's forecast for day d
    is the ACTUAL at d−offset, fetched by an equi self-join on
    (keys, day−offset) — a 2× replicated join of the (series, day)
    relation, never a window sort. sMAPE = avg over scored days of
    2·|f−a| / (|f|+|a|), skipping days where both are 0 (the 0/0 case)
    or where the lagged actual does not exist.

    Scale shape: the self-joins are keyed on (series, day) — co-located
    with the input partitioning; the only new exchange is the final
    (series, model)-keyed partial agg, output-sized. Output:
    (*keys, model ∈ {naive, snaive}, smape, n_scored).
    """
    keys = list(keys)
    base = df.select(
        *keys, F.col(day_col).alias("day"), F.col(value_col).cast("double").alias("a")
    )
    mx = base.agg(F.max("day").alias("_mx"))
    test = base.crossJoin(F.broadcast(mx)).where(
        F.col("day") > F.date_sub(F.col("_mx"), test_days)
    ).select(*keys, "day", "a")
    scored = None
    for model, offset in (("naive", 1), ("snaive", season)):
        src = base.select(
            *keys, F.date_add(F.col("day"), offset).alias("day"), F.col("a").alias("f")
        )
        part = (
            test.join(src, [*keys, "day"])
            .where((F.abs("f") + F.abs("a")) > 0)
            .select(*keys, F.lit(model).alias("model"), "a", "f")
        )
        scored = part if scored is None else scored.unionByName(part)
    return (
        scored.groupBy(*keys, "model")
        .agg(
            (
                F.round(
                    F.avg(
                        F.lit(2.0)
                        * F.abs(F.col("f") - F.col("a"))
                        / (F.abs("f") + F.abs("a"))
                    ),
                    ndigits,
                )
                + F.lit(0.0)
            ).alias("smape"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )


def holt_forecast(
    daily: DataFrame,
    key_cols: list[str],
    idx_col: str = "day_idx",
    y_col: str = "y",
    n_steps: int = 30,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Holt linear-trend (double exponential) forecast, fully unrolled:
    pivot each series to ``n_steps`` value columns, then run the
    level/trend recursion l_t = α·y_t + (1−α)(l+b), b_t = β(l_t−l) +
    (1−β)b as ``n_steps−1`` chained PROJECTIONS — after the one pivot
    shuffle the whole fit is scalar column arithmetic (codegen, zero
    exchanges, 10⁹ series fit in one pass). The smoothing recursion is
    sequential in t, which kills window formulations; a fixed horizon
    makes unrolling the plan-time answer (the hilbert_key_stages
    discipline: stages reference columns by name, no expression blowup).

    Inputs y_t are ROUNDED daily aggregates, so the recursion consumes
    bit-identical operands in any engine and every later op is fixed-order
    scalar IEEE arithmetic — deterministic end to end (no float-sum-order
    hazard after the pivot). Missing steps are 0-filled (absent day = no
    activity in an event stream). Also reports in-sample one-step sMAPE.

    Output: (*key_cols, h, forecast, level, trend, smape_fit), h ∈
    [1, horizon] with forecast = level + h·trend."""
    cells = [
        F.round(
            F.coalesce(
                F.sum(F.when(F.col(idx_col) == t, F.col(y_col))), F.lit(0.0)
            ),
            ndigits,
        ).alias(f"_y{t}")
        for t in range(n_steps)
    ]
    wide = daily.groupBy(*key_cols).agg(*cells)
    cur = wide.select(
        *key_cols,
        *[f"_y{t}" for t in range(n_steps)],
        F.col("_y0").alias("_l"),
        (F.col("_y1") - F.col("_y0")).alias("_b"),
        F.lit(0.0).alias("_ape"),  # running Σ symmetric abs pct errors
        F.lit(0).alias("_nf"),
    )
    a, b_ = alpha, beta
    for t in range(1, n_steps):
        f_t = F.col("_l") + F.col("_b")  # one-step-ahead fitted value
        y_t = F.col(f"_y{t}")
        denom = F.abs(y_t) + F.abs(f_t)
        ape = F.when(denom > 0, F.lit(2.0) * F.abs(y_t - f_t) / denom).otherwise(
            F.lit(0.0)
        )
        l_new = F.lit(a) * y_t + F.lit(1 - a) * (F.col("_l") + F.col("_b"))
        cur = cur.select(
            *key_cols,
            *[f"_y{k}" for k in range(n_steps)],
            l_new.alias("_l_new"),
            F.col("_l").alias("_l_old"),
            F.col("_b"),
            (F.col("_ape") + ape).alias("_ape"),
            (F.col("_nf") + 1).alias("_nf"),
        ).select(
            *key_cols,
            *[f"_y{k}" for k in range(n_steps)],
            F.col("_l_new").alias("_l"),
            (
                F.lit(b_) * (F.col("_l_new") - F.col("_l_old"))
                + F.lit(1 - b_) * F.col("_b")
            ).alias("_b"),
            "_ape",
            "_nf",
        )
    hs = F.explode(F.array(*[F.lit(h) for h in range(1, horizon + 1)])).alias("h")
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return cur.select(
        *key_cols,
        hs,
        F.col("_l").alias("__l"),
        F.col("_b").alias("__b"),
        (F.col("_ape") / F.col("_nf")).alias("__sm"),
    ).select(
        *key_cols,
        "h",
        rnd(F.col("__l") + F.col("h") * F.col("__b")).alias("forecast"),
        rnd(F.col("__l")).alias("level"),
        rnd(F.col("__b")).alias("trend"),
        rnd(F.col("__sm")).alias("smape_fit"),
    )


def rsi_sma(
    daily: DataFrame,
    key_cols: list[str],
    idx_col: str = "day_idx",
    y_col: str = "y",
    period: int = 14,
    ndigits: int = 6,
) -> DataFrame:
    """Relative Strength Index, SMA (Cutler) variant — RSI = 100 −
    100/(1 + avgGain/avgLoss) over a trailing ``period``-row window of
    up/down moves. Cutler's SMA form is chosen over Wilder's smoothing
    deliberately: Wilder's is a recursive EWMA (order-dependent, needs an
    unroll like holt_forecast), while the SMA form is pure window algebra
    — one series-partitioned sort, no recursion, no global window.
    All-loss windows → 0, all-gain → 100 (the standard conventions).

    Inputs are rounded daily aggregates (the holt_forecast determinism
    rule). Output: (*key_cols, idx, y, rsi) for rows with a full window.
    """
    w = Window.partitionBy(*key_cols).orderBy(idx_col)
    delta = F.col(y_col) - F.lag(y_col, 1).over(w)
    moves = daily.select(
        *key_cols,
        F.col(idx_col).alias("idx"),
        F.col(y_col).alias("y"),
        F.greatest(delta, F.lit(0.0)).alias("_gain"),
        F.greatest(-delta, F.lit(0.0)).alias("_loss"),
        F.row_number().over(w).alias("_rn"),
    )
    wt = (
        Window.partitionBy(*key_cols)
        .orderBy("idx")
        .rowsBetween(-(period - 1), 0)
    )
    scored = moves.select(
        *key_cols,
        "idx",
        "y",
        "_rn",
        F.avg("_gain").over(wt).alias("_ag"),
        F.avg("_loss").over(wt).alias("_al"),
    ).filter(F.col("_rn") > period)  # first delta is null; need a full window
    rsi = (
        F.when(F.col("_al") == 0, F.lit(100.0))
        .when(F.col("_ag") == 0, F.lit(0.0))
        .otherwise(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("_ag") / F.col("_al"))
        )
    )
    return scored.select(
        *key_cols,
        "idx",
        (F.round(F.col("y"), ndigits) + F.lit(0.0)).alias("y"),
        (F.round(rsi, ndigits) + F.lit(0.0)).alias("rsi"),
    )


def gapfill_interp(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value",
    ndigits: int = 6,
) -> DataFrame:
    """Calendar gap-fill with linear interpolation per series: densify
    each key's day axis to its full [min, max] range (sequence + explode
    — no driver calendar), then fill INTERIOR missing days by linear
    interpolation between the bracketing observed days; leading/trailing
    days (no neighbor on one side) stay NULL. calendar_gaps FINDS the
    holes — this is the repair step feeding models that need a dense,
    regular series.

    Windows: one ordered window per direction carrying (last observed
    value, its day) via last/first(ignorenulls) over a STRUCT — value and
    day travel together, so a null value can never borrow another row's
    day. Both windows and the final arithmetic shuffle once on the series
    key. Interpolation arithmetic runs in fixed expression order on both
    engines (oracle twin), final ROUND only.

    ``is_filled`` means REPAIRED (was missing and now carries an
    interpolated value) — a NULL-valued observation sitting at the span
    edge stays NULL and reports is_filled = false, so consumers can
    select is_filled rows as model-ready without re-checking for NULLs.

    Output: (*key_cols, day, value, is_filled, gap_fill_src_span)."""
    gp = list(key_cols)
    span = daily.groupBy(*gp).agg(
        F.min(day_col).alias("_d0"), F.max(day_col).alias("_d1")
    )
    cal = span.select(
        *gp, F.explode(F.sequence("_d0", "_d1")).alias(day_col)
    )
    full = cal.join(daily, [*gp, day_col], "left")
    wb = (
        Window.partitionBy(*gp)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*gp)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs = F.when(
        F.col(value_col).isNotNull(),
        F.struct(F.col(day_col).alias("d"), F.col(value_col).alias("v")),
    )
    filled = full.select(
        *gp,
        F.col(day_col),
        F.col(value_col),
        F.last(obs, ignorenulls=True).over(wb).alias("_prev"),
        F.first(obs, ignorenulls=True).over(wf).alias("_next"),
    )
    span_days = F.datediff(F.col("_next.d"), F.col("_prev.d"))
    k = F.datediff(F.col(day_col), F.col("_prev.d"))
    interp = F.col("_prev.v") + (F.col("_next.v") - F.col("_prev.v")) * (
        k.cast("double") / span_days.cast("double")
    )
    value_out = F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
        F.when(
            F.col("_prev").isNotNull() & F.col("_next").isNotNull(), interp
        )
    )
    return filled.select(
        *gp,
        F.col(day_col),
        (F.round(value_out, ndigits) + F.lit(0.0)).alias(value_col),
        (F.col(value_col).isNull() & value_out.isNotNull()).alias("is_filled"),
        F.when(
            F.col(value_col).isNull()
            & F.col("_prev").isNotNull()
            & F.col("_next").isNotNull(),
            span_days,
        )
        .cast("int")
        .alias("gap_fill_src_span"),
    )


def runs_test(
    series: DataFrame,
    order_col: str,
    flag_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Wald–Wolfowitz runs test over a BOUNDED ordered binary series
    (daily aggregates, weekly KPIs — the caller aggregates the raw stream
    first): is the above/below pattern random, or does it trend/cluster?
    R = observed runs; z = (R − μ)/σ with μ = 2n₁n₀/n + 1 and
    σ² = 2n₁n₀(2n₁n₀ − n)/(n²(n−1)).

    Exactness: run boundaries are integer lag comparisons; μ/σ combine
    exact integer counts in fixed operand order.

    Scale shape: the input is a bounded relation by contract (|days|
    rows), so the one global-order lag window is a documented bounded
    single-partition stage — the raw stream is reduced BEFORE this
    operator (see inter_event_gaps / dow_anomaly for the data-sized
    stage).

    Output (1 row): (n, n_above, n_below, runs, z)."""
    from pyspark.sql import Window

    w = Window.orderBy(order_col)  # bounded relation — documented
    flagged = series.select(
        F.col(flag_col).cast("int").alias("_f"),
        (
            F.col(flag_col).cast("int")
            != F.lag(F.col(flag_col).cast("int")).over(w)
        ).cast("long").alias("_chg"),
    )
    acc = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_f").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("_f")).cast("long").alias("n_below"),
        F.when(
            F.count(F.lit(1)) == 0, F.lit(0)
        ).otherwise(F.coalesce(F.sum("_chg"), F.lit(0)) + 1)
        .cast("long")
        .alias("runs"),
    )
    n = F.col("n").cast("double")
    n1, n0 = F.col("n_above").cast("double"), F.col("n_below").cast("double")
    mu = 2.0 * n1 * n0 / n + 1.0
    var = (
        2.0 * n1 * n0 * (2.0 * n1 * n0 - n) / (n * n * (n - 1.0))
    )
    z = F.when((n1 == 0.0) | (n0 == 0.0) | (n <= 1.0) | (var <= 0.0), F.lit(0.0)).otherwise(
        (F.col("runs").cast("double") - mu) / F.sqrt(var)
    )
    return acc.select(
        "n", "n_above", "n_below", "runs",
        (F.round(z, ndigits) + F.lit(0.0)).alias("z"),
    )


def max_drawdown(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Maximum drawdown of the cumulative series per key — the deepest
    peak-to-trough fall of the running total (the risk number behind
    "how bad did it get", applied to revenue/inventory/error budgets as
    naturally as to prices).

    Determinism discipline: ``value_col`` must be INTEGER (cents,
    counts), so the cumulative sum, running peak, and drawdown are exact
    integers end-to-end; the only float is the final ratio. The trough
    row is the FIRST row attaining the maximum drawdown (ties broken by
    ``order_col``), picked by a row_number over the same key partition.

    Plan shape: one shuffle on ``keys``; the cumulative/peak/ranking
    windows all share that partitioning (one sort, three frames). Series
    length per key is |days|-bounded after the caller's daily rollup.
    ``order_col`` must be UNIQUE per key (pre-aggregate ties first) —
    running sums over tied order values are frame-order-dependent.

    Output per key: (*keys, n_points, final_value, peak, max_drawdown,
    dd_pct, trough DATE-or-order-value)."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = F.col(value_col).cast("decimal(38,0)")
    stepped = (
        df.withColumn("_cum", F.sum(dec).over(w))
        .withColumn("_peak", F.max("_cum").over(w))
        .withColumn("_dd", F.col("_peak") - F.col("_cum"))
    )
    pick = Window.partitionBy(*keys).orderBy(
        F.col("_dd").desc(), F.col(order_col).asc()
    )
    cnt = Window.partitionBy(*keys)
    out = (
        stepped.withColumn("_rn", F.row_number().over(pick))
        .withColumn("_n", F.count(F.lit(1)).over(cnt))
        .withColumn("_fin", F.sum(dec).over(cnt))
        .filter(F.col("_rn") == 1)
    )
    ddp = F.when(
        F.col("_peak").cast("double") > 0.0,
        F.col("_dd").cast("double") / F.col("_peak").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        *keys,
        F.col("_n").cast("long").alias("n_points"),
        F.col("_fin").cast("long").alias("final_value"),
        F.col("_peak").cast("long").alias("peak"),
        F.col("_dd").cast("long").alias("max_drawdown"),
        (F.round(ddp, 6) + F.lit(0.0)).alias("dd_pct"),
        F.col(order_col).alias("trough"),
    )


def bollinger_breakouts(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    window_n: int = 20,
    band: int = 2,
) -> DataFrame:
    """Bollinger-band breakout days: rows where the value leaves the
    ±``band``·σ envelope around its ``window_n``-point trailing mean —
    the volatility-scaled anomaly flag (dow_anomaly's rolling twin).

    Determinism discipline: ``value_col`` must be INTEGER. The rolling
    Σx and Σx² accumulate as DECIMAL(38,0) over a ROWS frame (exact at
    any magnitude — int64 dies at daily sums ≳ 3·10⁹ squared); the
    breach DECISION is the exact integer comparison
    (n−1)·(n·x − S)² > band²·n·(n·Q − S²), so no float ever decides a
    row's membership. Display stats are doubles rounded at the edge.
    Only rows with a FULL window are eligible (warm-up excluded).

    Plan shape: one shuffle on ``keys``, one ordered window (two sums +
    a count share the frame). ``order_col`` must be UNIQUE per key
    (pre-aggregate ties first).

    Output per breach: (*keys, order, value, ma, sd, upper, lower,
    direction ±1)."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window_n - 1), Window.currentRow)
    )
    x = F.col(value_col)
    dec = x.cast("decimal(38,0)")
    stepped = (
        df.withColumn("_s", F.sum(dec).over(w))
        .withColumn("_q", F.sum(dec * x).over(w))
        .withColumn("_k", F.count(F.lit(1)).over(w))
        .filter(F.col("_k") == window_n)
    )
    n = F.lit(window_n).cast("decimal(38,0)")
    d = n * F.col(value_col).cast("decimal(38,0)") - F.col("_s")
    ssq = n * F.col("_q") - F.col("_s") * F.col("_s")  # n²·(n−1)/n · var
    lhs = (F.lit(window_n - 1).cast("double")) * d.cast("double") * d.cast(
        "double"
    )
    rhs = (
        F.lit(band * band).cast("double")
        * F.lit(window_n).cast("double")
        * ssq.cast("double")
    )
    nn = F.lit(float(window_n))
    ma = F.col("_s").cast("double") / nn
    sd = F.sqrt(
        F.greatest(ssq.cast("double"), F.lit(0.0)) / (nn * (nn - 1.0))
    )
    rnd = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        stepped.filter(lhs > rhs)
        .select(
            *keys,
            F.col(order_col),
            x.cast("long").alias("value"),
            rnd(ma).alias("ma"),
            rnd(sd).alias("sd"),
            rnd(ma + band * sd).alias("upper"),
            rnd(ma - band * sd).alias("lower"),
            F.when(d.cast("double") > 0.0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("direction"),
        )
    )


def theil_u_eval(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 7),
) -> DataFrame:
    """Theil's U1 accuracy of naive lag forecasts on one series — the
    "is your model beating persistence?" yardstick
    (forecast_backtest's closed-form floor): per lag L the forecast is
    f_t = y_{t−L}, scored where it exists.
    U1 = √(Σ(f−y)²/n) / (√(Σf²/n) + √(Σy²/n)) ∈ [0, 1].

    Determinism discipline: ``value_col`` must be INTEGER; the three
    squared sums and the absolute-error sum accumulate as
    DECIMAL(38,0) (daily-count squares pass int64 at ~10⁸/day).

    Plan shape: the input is the caller's ALREADY-AGGREGATED series
    (|days|-bounded), so the single-partition lag window is a bounded
    relation by construction — document the bound at the call site, as
    autocorrelation does.

    Output per lag: (lag, n, mae, rmse, u1)."""
    w = Window.orderBy(order_col)
    y = F.col(value_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    outs = []
    for lag in lags:
        f = F.lag(value_col, lag).over(w)
        scored = df.select(
            y.alias("_y"), f.alias("_f")
        ).filter(F.col("_f").isNotNull())
        e = F.col("_f") - F.col("_y")
        acc = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec(e) * e).alias("se2"),
            F.sum(F.abs(dec(e))).alias("sae"),
            F.sum(dec(F.col("_f")) * F.col("_f")).alias("sf2"),
            F.sum(dec(F.col("_y")) * F.col("_y")).alias("sy2"),
        )
        n = F.col("n").cast("double")
        rmse = F.sqrt(F.col("se2").cast("double") / n)
        den = F.sqrt(F.col("sf2").cast("double") / n) + F.sqrt(
            F.col("sy2").cast("double") / n
        )
        u1 = F.when(den <= 0.0, F.lit(0.0)).otherwise(rmse / den)
        rnd = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
        outs.append(
            acc.select(
                F.lit(lag).cast("int").alias("lag"),
                F.col("n"),
                rnd(F.col("sae").cast("double") / n).alias("mae"),
                rnd(rmse).alias("rmse"),
                rnd(u1).alias("u1"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def hurst_exponent(
    df: DataFrame,
    order_col: str,
    value_col: str,
    block_sizes: Sequence[int] = (16, 32, 64, 128),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of one ordered
    series: per block size m, the series splits into ⌊n/m⌋ complete
    blocks, each scoring R/S = range(cumulative deviations)/std; the
    log-log slope of mean R/S against m is H (0.5 = random walk,
    > 0.5 = persistent/trending, < 0.5 = mean-reverting).

    Determinism discipline: ``value_col`` must be INTEGER, so each
    block's m·Y_k = m·Σ_{i≤k}x_i − k·S_block is an EXACT integer and
    R/S = (max−min of m·Y_k)/√(m·Σx² − S²) is a closed form of exact
    integers (one double per block). Per-size means of those doubles
    and the 4-point log-log OLS cross unordered relations, so both are
    max-normalized floor-e12-quantized before summing (the kruskal
    discipline).

    Scale shape: input is the caller's |days|-bounded ordered rollup by
    contract (runs_test/theil_u shape); one global row_number assigns
    block indices, then everything is |blocks|- and |sizes|-sized.

    Output: one row per block size — (block_size, n_blocks, rs_mean,
    hurst), with the fitted H repeated on every row (1-row broadcast)."""
    w = Window.orderBy(order_col)
    base = df.select(
        F.col(order_col), F.col(value_col).cast("long").alias("_x")
    ).withColumn("_rn", F.row_number().over(w) - 1).drop(order_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # ALL sizes in one pass: explode the size list over the bounded series
    # (|sizes|× duplication of a |days|-sized relation), so one (m, b)
    # window chain serves every block size — 4 chains collapse into one
    # sort (the oracle SQL's exact shape; measured 3.5 s → sub-second at
    # sf0.01, and at any scale the window input stays |sizes|·|days|)
    blocks = base.select(
        F.explode(
            F.array(*[F.lit(int(m)) for m in block_sizes])
        ).alias("_m"),
        "_x",
        "_rn",
    ).select(
        "_m",
        "_x",
        F.floor(F.col("_rn") / F.col("_m")).alias("_b"),
        (F.col("_rn") % F.col("_m") + 1).alias("_k"),
    )
    # block b is complete iff b < ⌊n/m⌋ — one 1-row count broadcast
    # replaces a per-block count + join
    ntot = base.agg(F.count(F.lit(1)).alias("_n"))
    full = blocks.crossJoin(F.broadcast(ntot)).filter(
        F.col("_b") < F.floor(F.col("_n") / F.col("_m"))
    )
    wb = (
        Window.partitionBy("_m", "_b")
        .orderBy("_k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # m·Y_k = m·cs_k − k·S: the block total S rides a whole-partition
    # window next to the running cumsum (one sort, two frames)
    wall = Window.partitionBy("_m", "_b")
    stepped = (
        full.withColumn("_cs", F.sum(dec(F.col("_x"))).over(wb))
        .withColumn("_s", F.sum(dec(F.col("_x"))).over(wall))
        .withColumn("_q", F.sum(dec(F.col("_x")) * F.col("_x")).over(wall))
        .withColumn(
            "_my",
            F.col("_m").cast("decimal(38,0)") * F.col("_cs")
            - F.col("_k").cast("decimal(38,0)") * F.col("_s"),
        )
    )
    per_b = stepped.groupBy("_m", "_b").agg(
        (F.max("_my") - F.min("_my")).alias("_r"),
        F.first("_s").alias("_s"),
        F.first("_q").alias("_q"),
    )
    ssq = (
        F.col("_m").cast("decimal(38,0)") * F.col("_q")
        - F.col("_s") * F.col("_s")
    ).cast("double")
    rs = F.when(ssq <= 0.0, F.lit(None).cast("double")).otherwise(
        F.col("_r").cast("double") / F.sqrt(ssq)
    )
    scored = per_b.select("_m", rs.alias("_rs")).filter(
        F.col("_rs").isNotNull()
    )
    smax = scored.groupBy("_m").agg(F.max("_rs").alias("_tm"))
    sizes = (
        scored.join(F.broadcast(smax), "_m")
        .groupBy("_m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(
                F.when(
                    F.col("_tm") > 0.0,
                    F.floor(F.col("_rs") / F.col("_tm") * 1e12).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("_qs"),
            F.first("_tm").alias("_tm"),
        )
        .select(
            F.col("_m").cast("long").alias("block_size"),
            "n_blocks",
            (
                F.col("_qs").cast("double")
                / 1e12
                * F.col("_tm")
                / F.col("n_blocks").cast("double")
            ).alias("_rsm"),
        )
        .filter(F.col("n_blocks") > 0)
    )
    # 4-point log-log OLS: terms quantized before the unordered sums
    terms = sizes.select(
        "block_size",
        "n_blocks",
        "_rsm",
        F.log(F.col("block_size").cast("double")).alias("_u"),
        F.log(F.col("_rsm")).alias("_v"),
    )
    tmax = terms.agg(
        F.max(F.abs(F.col("_u"))).alias("_um"),
        F.max(F.abs(F.col("_v"))).alias("_vm"),
        F.max(F.abs(F.col("_u") * F.col("_v"))).alias("_uvm"),
        F.max(F.col("_u") * F.col("_u")).alias("_uum"),
    )
    qz = lambda c, mx: F.when(  # noqa: E731
        F.col(mx) > 0.0, F.floor(c / F.col(mx) * 1e12).cast("long")
    ).otherwise(F.lit(0))
    ols = (
        terms.crossJoin(F.broadcast(tmax))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_k"),
            F.sum(qz(F.col("_u"), "_um")).alias("_su"),
            F.sum(qz(F.col("_v"), "_vm")).alias("_sv"),
            F.sum(qz(F.col("_u") * F.col("_v"), "_uvm")).alias("_suv"),
            F.sum(qz(F.col("_u") * F.col("_u"), "_uum")).alias("_suu"),
            F.first("_um").alias("_um"),
            F.first("_vm").alias("_vm"),
            F.first("_uvm").alias("_uvm"),
            F.first("_uum").alias("_uum"),
        )
        .select(
            F.col("_k"),
            (F.col("_su").cast("double") / 1e12 * F.col("_um")).alias("su"),
            (F.col("_sv").cast("double") / 1e12 * F.col("_vm")).alias("sv"),
            (F.col("_suv").cast("double") / 1e12 * F.col("_uvm")).alias("suv"),
            (F.col("_suu").cast("double") / 1e12 * F.col("_uum")).alias("suu"),
        )
    )
    kd = F.col("_k").cast("double")
    det = kd * F.col("suu") - F.col("su") * F.col("su")
    hurst = F.when(det == 0.0, F.lit(0.0)).otherwise(
        (kd * F.col("suv") - F.col("su") * F.col("sv")) / det
    )
    h1 = ols.select((F.round(hurst, 6) + F.lit(0.0)).alias("hurst"))
    return sizes.crossJoin(F.broadcast(h1)).select(
        "block_size",
        "n_blocks",
        (F.round(F.col("_rsm"), 6) + F.lit(0.0)).alias("rs_mean"),
        "hurst",
    )


def ljung_box(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3, 7, 14),
    ndigits: int = 6,
) -> DataFrame:
    """Ljung–Box whiteness test on one ordered series: standard ACF
    r_k (global-mean, full-variance denominator — NOT pairwise Pearson)
    per lag, plus the portmanteau Q = n(n+2)·Σ_k r_k²/(n−k) repeated on
    every row. Large Q rejects "these residuals are white noise" — run
    it on forecast_backtest/holt residuals before trusting them.

    Determinism discipline: ``value_col`` must be INTEGER. Multiplying
    r_k through by n² makes BOTH sides exact integers:
    r_k = [n²·Σxy − n·S·(H_k+T_k) + (n−k)·S²] / [n·(n·Q₂ − S²)]
    (S = Σx, Q₂ = Σx², H_k/T_k = head/tail partial sums, Σxy the lag-k
    cross sum) — every sum DECIMAL(38,0), one float division per lag.
    The |lags|-row Q summation quantizes max-normalized floor-e12.

    Scale shape: input is the caller's |days|-bounded ordered rollup by
    contract (runs_test shape); one lag window serves all lags, then
    |lags|-row arithmetic.

    Output per lag: (lag, n, n_pairs, r, q_stat)."""
    w = Window.orderBy(order_col)
    x = F.col(value_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    lagged = df.select(
        x.alias("_v"),
        *[F.lag(value_col, k).over(w).alias(f"_l{k}") for k in lags],
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("_v"))).alias("s"),
        F.sum(dec(F.col("_v")) * F.col("_v")).alias("q2"),
    ]
    for k in lags:
        lk = F.col(f"_l{k}")
        aggs += [
            F.sum(F.when(lk.isNotNull(), dec(F.col("_v")) * lk)).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), dec(F.col("_v")))).alias(f"h{k}"),
            F.sum(F.when(lk.isNotNull(), dec(lk))).alias(f"t{k}"),
            F.count(F.when(lk.isNotNull(), F.lit(1))).cast("long").alias(f"np{k}"),
        ]
    acc = lagged.agg(*aggs)
    nd = F.col("n").cast("double")
    sdv = F.col("s").cast("double")
    den = nd * (nd * F.col("q2").cast("double") - sdv * sdv)
    rows = []
    for k in lags:
        num = (
            nd * nd * F.col(f"sxy{k}").cast("double")
            - nd * sdv * (F.col(f"h{k}").cast("double")
                          + F.col(f"t{k}").cast("double"))
            + (nd - F.lit(float(k))) * sdv * sdv
        )
        r = F.when(den <= 0.0, F.lit(0.0)).otherwise(num / den)
        rows.append(
            acc.select(
                F.lit(k).cast("int").alias("lag"),
                F.col("n"),
                F.col(f"np{k}").alias("n_pairs"),
                r.alias("_r"),
            )
        )
    per_lag = rows[0]
    for o in rows[1:]:
        per_lag = per_lag.unionByName(o)
    # Q = n(n+2) Σ r²/(n−k): |lags|-row unordered sum → quantize e12
    terms = per_lag.select(
        "lag",
        "n",
        "n_pairs",
        "_r",
        (
            F.col("_r") * F.col("_r")
            / (F.col("n").cast("double") - F.col("lag").cast("double"))
        ).alias("_t"),
    )
    tmax = terms.agg(F.max("_t").alias("_tm"))
    qsum = (
        terms.crossJoin(F.broadcast(tmax))
        .agg(
            F.sum(
                F.when(
                    F.col("_tm") > 0.0,
                    F.floor(F.col("_t") / F.col("_tm") * 1e12).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("_q"),
            F.first("_tm").alias("_tm"),
            F.first("n").alias("_n"),
        )
        .select(
            (
                F.col("_n").cast("double")
                * (F.col("_n").cast("double") + 2.0)
                * (F.col("_q").cast("double") / 1e12 * F.col("_tm"))
            ).alias("_qstat")
        )
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return terms.crossJoin(F.broadcast(qsum)).select(
        "lag",
        "n",
        "n_pairs",
        rnd(F.col("_r")).alias("r"),
        rnd(F.col("_qstat")).alias("q_stat"),
    )


_EULER_GAMMA = 0.5772156649015329


def gumbel_return_levels(
    df: DataFrame,
    block_col: str,
    value_col: str,
    return_periods: Sequence[int] = (10, 50, 100),
    ndigits: int = 6,
) -> DataFrame:
    """Gumbel (EV1) return levels from block maxima by the method of
    moments — the hydrology/climatology "T-year event" estimate
    (the reference's gridMET consumers feed exactly this kind of
    analysis; rmcd-mscb/gridmet-etl etl.py serves the daily inputs):
    β̂ = s·√6/π, μ̂ = m − γ·β̂, x_T = μ̂ − β̂·ln(−ln(1 − 1/T)).

    Determinism discipline: ``value_col`` must be INTEGER; block maxima
    are exact (one max per block), their two moment sums accumulate as
    DECIMAL(38,0), and each return level is a closed form of the exact
    sums with literal constants (√6/π, Euler γ) in fixed operand order.

    Scale shape: one (block) max aggregation over the data (map-side
    partial), one 1-row moment pass over the |blocks| relation, output
    |return_periods| rows from a literal relation.

    Output per T: (return_period, n_blocks, mu, beta, return_level)."""
    spark = df.sparkSession
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    maxima = df.groupBy(F.col(block_col).alias("_b")).agg(
        F.max(F.col(value_col).cast("long")).alias("_m")
    )
    acc = maxima.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(dec(F.col("_m"))).alias("s"),
        F.sum(dec(F.col("_m")) * F.col("_m")).alias("q"),
    )
    n = F.col("n_blocks").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.when(F.col("n_blocks") < 2, F.lit(0.0)).otherwise(
        (n * F.col("q").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double"))
        / (n * (n - 1.0))
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    beta = sd * 0.7796968012336793  # √6/π
    mu = mean - F.lit(_EULER_GAMMA) * beta
    periods = spark.createDataFrame(
        [(int(t),) for t in return_periods], "return_period int"
    )
    j = acc.crossJoin(F.broadcast(periods))
    t = F.col("return_period").cast("double")
    level = mu - beta * F.log(-F.log(1.0 - 1.0 / t))
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return j.select(
        "return_period",
        "n_blocks",
        rnd(mu).alias("mu"),
        rnd(beta).alias("beta"),
        rnd(level).alias("return_level"),
    )


def page_hinkley(
    df: DataFrame,
    order_col: str,
    value_col: str,
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Page–Hinkley upward-drift detector over one ordered series: the
    cumulative deviation from the RUNNING mean U_t = Σ_{i≤t}
    (x_i − m̄_i − δ) alarms when it exceeds its own running minimum by
    λ — the sequential changepoint monitor (cusum_changepoints' online
    twin: PH uses the evolving mean, so it needs no in-control baseline
    window).

    Determinism: per-row m̄_i = S_i/i is an exact integer ratio
    (``value_col`` must be INTEGER); the U cumsum and running min ride
    ordered window frames (sequential order — the kaplan_meier
    precedent), and the alarm compares doubles built from exact inputs
    against a literal λ, identically in both engines.

    Scale shape: input is the caller's |days|-bounded ordered rollup by
    contract (runs_test shape) — three frames over one sort.

    Output per alarm row: (order, value, ph, excess)."""
    w = Window.orderBy(order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(value_col).cast("long")
    stepped = (
        df.withColumn("_s", F.sum(x.cast("decimal(38,0)")).over(run))
        .withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_u",
            x.cast("double")
            - F.col("_s").cast("double") / F.col("_i").cast("double")
            - F.lit(float(delta)),
        )
        .withColumn("_U", F.sum("_u").over(run))
        .withColumn("_minU", F.min("_U").over(run))
    )
    return stepped.filter(
        F.col("_U") - F.col("_minU") > F.lit(float(lam))
    ).select(
        F.col(order_col),
        x.alias("value"),
        (F.round(F.col("_U"), 6) + F.lit(0.0)).alias("ph"),
        (F.round(F.col("_U") - F.col("_minU"), 6) + F.lit(0.0)).alias(
            "excess"
        ),
    )


def seasonal_strength(
    decomposed: DataFrame,
    keys: Sequence[str],
    ndigits: int = 6,
) -> DataFrame:
    """Hyndman seasonal/trend strength per series from a
    ``seasonal_decompose`` output:
    F_seasonal = max(0, 1 − Var(resid)/Var(seasonal + resid)),
    F_trend    = max(0, 1 − Var(resid)/Var(trend + resid)) —
    the two numbers that say whether the decomposition actually found
    structure (≈0: noise; →1: the component dominates).

    Determinism discipline: the decomposition's columns arrive ROUNDED
    at 6, so round(x·10⁶) recovers exact integers; all six moment sums
    accumulate as DECIMAL(38,0) and the variances/ratios combine them
    in fixed operand order (the 10⁶ scale cancels in every ratio).

    Scale shape: ONE partial-agg pass over the decomposed rows
    (|series|-keyed), output |series|-sized.

    Output per series: (*keys, n, f_seasonal, f_trend)."""
    keys = list(keys)
    e6 = lambda c: F.round(F.col(c) * 1e6, 0).cast("long")  # noqa: E731
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = decomposed.select(
        *keys,
        e6("resid").alias("_r"),
        (e6("seasonal") + e6("resid")).alias("_sr"),
        (e6("trend") + e6("resid")).alias("_tr"),
    )
    acc = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("_r"))).alias("s_r"),
        F.sum(dec(F.col("_r")) * F.col("_r")).alias("q_r"),
        F.sum(dec(F.col("_sr"))).alias("s_sr"),
        F.sum(dec(F.col("_sr")) * F.col("_sr")).alias("q_sr"),
        F.sum(dec(F.col("_tr"))).alias("s_tr"),
        F.sum(dec(F.col("_tr")) * F.col("_tr")).alias("q_tr"),
    )
    n = F.col("n").cast("double")

    def _var(s, q):
        return n * F.col(q).cast("double") - F.col(s).cast("double") * F.col(
            s
        ).cast("double")

    vr, vsr, vtr = _var("s_r", "q_r"), _var("s_sr", "q_sr"), _var("s_tr", "q_tr")
    fs = F.when(vsr <= 0.0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), 1.0 - vr / vsr)
    )
    ft = F.when(vtr <= 0.0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), 1.0 - vr / vtr)
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return acc.select(
        *keys,
        F.col("n"),
        rnd(fs).alias("f_seasonal"),
        rnd(ft).alias("f_trend"),
    )


def turning_point_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Turning-point test for serial randomness: count local extrema
    (v_{t−1} < v_t > v_{t+1} or the mirror) and compare with the i.i.d.
    expectation E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 — the quick "is
    this series actually random" gate (trend/seasonality depress T,
    rapid oscillation inflates it). Strict inequalities: a tie with a
    neighbour is not a turning point.

    Input: ONE row per time step (caller pre-aggregates), so the global
    lag/lead window runs over a series-sized relation — bounded by the
    calendar, not the data (the runs_test/ljung_box convention).

    Output (1 row): (n, n_turning, expected, z)."""
    w = Window.orderBy(order_col)
    v = F.col(value_col)
    flagged = df.select(
        v.alias("_v"),
        F.lag(value_col, 1).over(w).alias("_p"),
        F.lead(value_col, 1).over(w).alias("_f"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(
            F.when(
                (
                    (F.col("_v") > F.col("_p")) & (F.col("_v") > F.col("_f"))
                )
                | (
                    (F.col("_v") < F.col("_p")) & (F.col("_v") < F.col("_f"))
                ),
                F.lit(1),
            )
        ).cast("long").alias("n_turning"),
    )
    n = F.col("n").cast("double")
    expected = 2.0 * (n - 2.0) / 3.0
    var = (16.0 * n - 29.0) / 90.0
    z = F.when((F.col("n") < 4) | (var <= 0.0), F.lit(0.0)).otherwise(
        (F.col("n_turning").cast("double") - expected) / F.sqrt(var)
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return agg.select(
        "n", "n_turning", rnd(expected).alias("expected"), rnd(z).alias("z")
    )


def durbin_watson(
    df: DataFrame,
    order_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Durbin–Watson statistic of the mean-detrended series:
    DW = Σ(e_t − e_{t−1})² / Σe_t² with e_t = v_t − v̄ — the standard
    lag-1 autocorrelation gate (≈2 uncorrelated, →0 positive, →4
    negative serial correlation).

    Determinism: ``value_col`` must be INTEGER. Residuals are scaled by n
    (e'_t = n·v_t − S, exact integers — the n² factors cancel in the
    ratio), and both quadratic sums accumulate as DECIMAL(38,0), so DW is
    one double division of two exact integers on any engine and any
    partition order. Input: one row per time step (series-sized window,
    the turning_point_test convention).

    Output (1 row): (n, dw)."""
    v = F.col(value_col).cast("long")
    tot = df.where(v.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        # accumulate in decimal from the start — a long sum would itself
        # overflow before the cast at large n·|v|
        F.sum(v.cast("decimal(38,0)")).alias("_s"),
    )
    w = Window.orderBy(order_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e = (
        df.where(v.isNotNull())
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(order_col),
            (dec(F.col("_n")) * v - F.col("_s")).alias("_e"),
            F.col("_n"),
        )
        .withColumn("_ep", F.lag("_e", 1).over(w))
    )
    agg = e.agg(
        F.first("_n").alias("n"),
        F.sum(F.col("_e") * F.col("_e")).alias("_den"),
        F.sum(
            F.when(
                F.col("_ep").isNotNull(),
                (F.col("_e") - F.col("_ep")) * (F.col("_e") - F.col("_ep")),
            )
        ).alias("_num"),
    )
    dw = F.when(
        F.col("_den").cast("double") <= 0.0, F.lit(0.0)
    ).otherwise(F.col("_num").cast("double") / F.col("_den").cast("double"))
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return agg.select(F.col("n").cast("long").alias("n"), rnd(dw).alias("dw"))


def control_chart_rules(
    daily: DataFrame,
    keys: Sequence[str],
    time_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Western Electric control-chart rules over a keyed integer series —
    the SPC alarm set (which days should a process owner look at):
    rule 1: the point beyond 3σ; rule 2: ≥2 of the last 3 beyond 2σ on
    the SAME side; rule 3: ≥4 of the last 5 beyond 1σ same side;
    rule 4: 8 consecutive points on one side of the mean.

    μ/σ are the key's own exact integer moments (n, Σv, Σv²); the side
    of the mean is the EXACT integer sign of n·v − Σv (no float decides
    a crossing); σ-band membership compares the double z in a fixed
    operand order (identical both engines; band edges are irrational, so
    no value sits ON one). Rule counts are window sums of integer
    indicators. Emits only alarm days.

    Scale shape: one shuffle on the key for moments + one for the
    windows; per-task state bounded by one key's days.
    Output: (keys..., day, value, z, r1, r2, r3, r4)."""
    keys = list(keys)
    mom = daily.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("_s"),
        F.sum(
            F.col(value_col).cast("decimal(38,0)") * F.col(value_col)
        ).alias("_q"),
    )
    j = daily.join(F.broadcast(mom), keys)
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("double")
    qq = F.col("_q").cast("double")
    v = F.col(value_col)
    # sample sd; z = (v - mu)/sd written as (n*v - s)/(n*sd)
    sd = F.sqrt((n * qq - s * s) / (n * (n - F.lit(1.0))))
    dev = n * v.cast("double") - s
    z = F.when((F.col("_n") < 2) | (sd == 0.0), F.lit(0.0)).otherwise(
        dev / (n * sd)
    )
    side_i = F.col("_sidedev")
    flagged = j.select(
        *keys,
        F.col(time_col).alias("day"),
        v.alias("value"),
        z.alias("_z"),
        (F.col(value_col).cast("decimal(38,0)") * F.col("_n") - F.col("_s"))
        .alias("_sidedev"),
    ).select(
        *keys,
        "day",
        "value",
        "_z",
        F.when(side_i > 0, F.lit(1))
        .when(side_i < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .alias("_side"),
        (F.abs(F.col("_z")) > 3.0).cast("int").alias("_b3"),
        ((F.col("_z") > 2.0).cast("int")).alias("_a2"),
        ((F.col("_z") < -2.0).cast("int")).alias("_l2"),
        ((F.col("_z") > 1.0).cast("int")).alias("_a1"),
        ((F.col("_z") < -1.0).cast("int")).alias("_l1"),
    )
    w3 = Window.partitionBy(*keys).orderBy("day").rowsBetween(-2, 0)
    w5 = Window.partitionBy(*keys).orderBy("day").rowsBetween(-4, 0)
    w8 = Window.partitionBy(*keys).orderBy("day").rowsBetween(-7, 0)
    scored = flagged.select(
        *keys,
        "day",
        "value",
        "_z",
        F.col("_b3").alias("r1"),
        (
            (F.sum("_a2").over(w3) >= 2) | (F.sum("_l2").over(w3) >= 2)
        ).cast("int").alias("r2"),
        (
            (F.sum("_a1").over(w5) >= 4) | (F.sum("_l1").over(w5) >= 4)
        ).cast("int").alias("r3"),
        (
            (F.sum((F.col("_side") > 0).cast("int")).over(w8) == 8)
            | (F.sum((F.col("_side") < 0).cast("int")).over(w8) == 8)
        ).cast("int").alias("r4"),
        F.count(F.lit(1)).over(w8).alias("_c8"),
        F.count(F.lit(1)).over(w5).alias("_c5"),
        F.count(F.lit(1)).over(w3).alias("_c3"),
    )
    # partial windows cannot certify rules 2-4
    out = scored.select(
        *keys,
        "day",
        "value",
        (F.round(F.col("_z"), ndigits) + F.lit(0.0)).alias("z"),
        "r1",
        F.when(F.col("_c3") >= 3, F.col("r2")).otherwise(F.lit(0)).alias("r2"),
        F.when(F.col("_c5") >= 5, F.col("r3")).otherwise(F.lit(0)).alias("r3"),
        F.when(F.col("_c8") >= 8, F.col("r4")).otherwise(F.lit(0)).alias("r4"),
    )
    return out.filter(
        (F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4")) > 0
    )


def esd_outliers(
    daily: DataFrame,
    time_col: str,
    value_col: str,
    k: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Iterative leave-out Grubbs screen (the generalized-ESD mechanic,
    reported without the t-quantile gate — compare each step's
    studentized deviation against the ESD critical value for your n
    offline): k rounds of "flag the most extreme point, REMOVE it,
    recompute mean/sd on the remainder". Masking-proof where a single
    Grubbs pass isn't (two big outliers hide each other by inflating sd).

    Determinism: integer values; each round's argmax is the exact
    DECIMAL |n·x − S| (ties: smaller value, then earlier time); moments
    update by exact subtraction of the removed point (n−1, S−x, Q−x²
    equivalent — recomputed per round on the remaining relation); the
    studentized readout is one fixed-order double expression.
    ``time_col`` must be UNIQUE (pass an aggregated series) — the
    per-round removal anti-joins on it, so duplicate keys would remove
    siblings of the flagged point.

    Scale shape: k bounded rounds over the |series| relation (k·2 map
    partial aggregates + k anti-joins on the time key; localCheckpoint
    per round pins one evaluation). Output (k rows): (step, day, value,
    n_at_step, studentized)."""
    base = daily.select(
        F.col(time_col).alias("_day"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rem = base
    picks = None
    for step in range(1, int(k) + 1):
        rem = rem.localCheckpoint(eager=False)
        acc = rem.agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(dec(F.col("_v"))).alias("_s"),
            F.sum(dec(F.col("_v")) * F.col("_v")).alias("_q"),
        )
        j = rem.crossJoin(F.broadcast(acc))
        devd = F.abs(dec(F.col("_n")) * F.col("_v") - F.col("_s"))
        n = F.col("_n").cast("double")
        sd = F.sqrt(
            (
                n * F.col("_q").cast("double")
                - F.col("_s").cast("double") * F.col("_s").cast("double")
            )
            / (n * (n - F.lit(1.0)))
        )
        stud = F.when((F.col("_n") < 3) | (sd == 0.0), F.lit(0.0)).otherwise(
            devd.cast("double") / (n * sd)
        )
        pick = (
            j.orderBy(devd.desc(), F.col("_v").asc(), F.col("_day").asc())
            .limit(1)
            .select(
                F.lit(step).cast("int").alias("step"),
                F.col("_day").alias("day"),
                F.col("_v").alias("value"),
                F.col("_n").alias("n_at_step"),
                (F.round(stud, ndigits) + F.lit(0.0)).alias("studentized"),
            )
        )
        picks = pick if picks is None else picks.unionByName(pick)
        rem = rem.join(
            pick.select(F.col("day").alias("_day")), "_day", "left_anti"
        )
    return picks


def binseg_split(
    daily: DataFrame,
    time_col: str,
    value_col: str,
    min_seg: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Exact offline single-changepoint detection by binary segmentation:
    the split t maximizing the SSE reduction. Because the Σx² terms
    cancel, gain(t) = S_L²/n_L + S_R²/n_R − S²/n — computable for EVERY
    candidate split in ONE pass from running integer prefix sums (the
    offline companion to cusum_changepoints' online detector).

    Determinism: integer values; prefix sums are exact DECIMAL(38,0)
    window cumsums over the time order; gain is a fixed-order double of
    exact forms (identical both engines, so even the ARGMAX agrees);
    plateau ties break on the earlier day. Segments shorter than
    ``min_seg`` are not candidates.

    Scale shape: one global cumulative window over the |series|-bounded
    relation (documented bounded — a daily series is ≤ ~37k rows per
    century) + a TakeOrdered-1 pick. Output (1 row): (split_day, n_left,
    n_right, mean_left, mean_right, gain)."""
    from pyspark.sql import Window

    base = daily.select(
        F.col(time_col).alias("_day"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w = Window.orderBy("_day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("_day")
    stepped = base.select(
        "_day",
        F.row_number().over(wall).cast("long").alias("_rn"),
        F.sum(dec(F.col("_v"))).over(w).alias("_sl"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(dec(F.col("_v"))).alias("_s"),
    )
    j = stepped.crossJoin(F.broadcast(tot)).filter(
        (F.col("_rn") >= min_seg) & (F.col("_rn") <= F.col("_n") - min_seg)
    )
    nl = F.col("_rn").cast("double")
    nr = (F.col("_n") - F.col("_rn")).cast("double")
    sl = F.col("_sl").cast("double")
    sr = (F.col("_s") - F.col("_sl")).cast("double")
    stot = F.col("_s").cast("double")
    gain = sl * sl / nl + sr * sr / nr - stot * stot / F.col("_n").cast("double")
    ranked = j.select(
        "_day", "_rn", "_sl", "_n", "_s", gain.alias("_gain")
    ).orderBy(F.col("_gain").desc(), F.col("_day").asc()).limit(1)
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return ranked.select(
        F.col("_day").alias("split_day"),
        F.col("_rn").alias("n_left"),
        (F.col("_n") - F.col("_rn")).alias("n_right"),
        rnd(F.col("_sl").cast("double") / F.col("_rn").cast("double")).alias(
            "mean_left"
        ),
        rnd(
            (F.col("_s") - F.col("_sl")).cast("double")
            / (F.col("_n") - F.col("_rn")).cast("double")
        ).alias("mean_right"),
        rnd(
            F.col("_sl").cast("double") * F.col("_sl").cast("double")
            / F.col("_rn").cast("double")
            + (F.col("_s") - F.col("_sl")).cast("double")
            * (F.col("_s") - F.col("_sl")).cast("double")
            / (F.col("_n") - F.col("_rn")).cast("double")
            - F.col("_s").cast("double") * F.col("_s").cast("double")
            / F.col("_n").cast("double")
        ).alias("gain"),
    )
