"""Causal-inference / experimentation batch operators: CUPED variance
reduction, stratified inverse-propensity weighting, and
difference-in-differences — the A/B-analysis depth layer on top of the
plain ``ab_test`` two-sample query.

All three reduce to a constant number of aggregation passes over a
user-grain metrics relation (shuffles are |users|-sized at most, outputs
are 1-row scalars), so they run unchanged at 100 TB event scale: the
events→user-metrics rollup is the only data-sized stage and is a single
partial-agg groupBy.

Float discipline: moment sums are double partial-aggregates (summation
order varies by partitioning), so every released statistic is
ROUND(x, ndigits) so runs under different partitionings agree — the
corr_matrix/ridge_regression convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_pct(key: Column, salt: str = "assign") -> Column:
    """Deterministic 0-99 assignment bucket from md5 (DuckDB-replayable:
    ``CAST('0x'||substr(md5('<salt>:'||key),1,6) AS BIGINT) % 100``) —
    the engine's stand-in for an experiment-assignment service."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        % 100
    )


def cuped(
    units: DataFrame,
    y_col: str = "y",
    x_col: str = "x",
    t_col: str = "t",
    ndigits: int = 6,
) -> DataFrame:
    """CUPED (Deng et al. 2013): reduce experiment-metric variance with a
    pre-period covariate. θ = cov(x, y)/var(x) on the POOLED sample (the
    standard choice — θ from pooled data keeps the adjusted estimator
    unbiased under random assignment); adjusted metric
    y' = y − θ·(x − x̄). Output (1 row): group means, the unadjusted and
    adjusted treatment effects, the variance-reduction ratio
    1 − var(y')/var(y) (≈ corr² when θ is in-sample optimal), and n's.

    Two bounded aggregations: one global moment pass (n, Σx, Σy, Σxy,
    Σx², Σy²) and one per-arm pass — never more than one |units|-sized
    shuffle each."""
    g = units.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x_col).alias("sx"),
        F.sum(y_col).alias("sy"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("sxy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"),
        F.sum(F.col(y_col) * F.col(y_col)).alias("syy"),
    ).select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
         / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))).alias("theta"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / F.col("n")).alias("var_y"),
        (F.col("sxy") / F.col("n") - F.col("sx") * F.col("sy") / (F.col("n") * F.col("n"))).alias("cov_xy"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")).alias("var_x"),
    )
    # one conditional-agg pass folds both arms into a single row (no
    # per-arm filter branches re-evaluating the units rollup)
    is_t, is_c = F.col(t_col) == 1, F.col(t_col) == 0
    arms = (
        units.crossJoin(F.broadcast(g))
        .withColumn(
            "_adj", F.col(y_col) - F.col("theta") * (F.col(x_col) - F.col("xbar"))
        )
        .agg(
            F.count(F.when(is_t, F.lit(1))).alias("n_t"),
            F.avg(F.when(is_t, F.col(y_col))).alias("mean_y_t"),
            F.avg(F.when(is_t, F.col("_adj"))).alias("mean_adj_t"),
            F.count(F.when(is_c, F.lit(1))).alias("n_c"),
            F.avg(F.when(is_c, F.col(y_col))).alias("mean_y_c"),
            F.avg(F.when(is_c, F.col("_adj"))).alias("mean_adj_c"),
        )
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return (
        arms
        .crossJoin(F.broadcast(g))
        .select(
            "n_t",
            "n_c",
            rnd(F.col("mean_y_t") - F.col("mean_y_c")).alias("diff_naive"),
            rnd(F.col("mean_adj_t") - F.col("mean_adj_c")).alias("diff_cuped"),
            rnd(F.col("theta")).alias("theta"),
            rnd(
                F.col("cov_xy") * F.col("cov_xy") / (F.col("var_x") * F.col("var_y"))
            ).alias("var_reduction"),
        )
    )


def ipw_ate(
    units: DataFrame,
    y_col: str = "y",
    t_col: str = "t",
    stratum_col: str = "stratum",
    ndigits: int = 6,
) -> DataFrame:
    """Average treatment effect under stratified confounding via inverse
    propensity weighting: p̂(s) = treated share within stratum s (the
    nonparametric propensity — exact rational n_t/n per stratum), then
    ATE = (1/N)·Σ [ t·y/p̂(s) − (1−t)·y/(1−p̂(s)) ] (Horvitz-Thompson).

    Positivity: a stratum with zero treated (or zero control) units has an
    undefined propensity weight — no estimator can recover its effect from
    the data. Such strata are EXCLUDED from both the numerator and the
    denominator (the trimmed estimand: ATE over the overlap population
    only — Crump et al. 2009's standard practice), and surfaced in the
    output so the trim is never silent. Including their units in N while
    sums skip them (NULL terms) would shrink both estimates toward 0 with
    no warning.

    Output (1 row): n_units, n_overlap_units, n_degenerate_strata, naive
    difference-in-means (confounded), the IPW ATE, and the
    stratification-theorem twin (Σ_s w_s·(ȳ_t(s) − ȳ_c(s)), w_s = n_s/N_ov)
    which equals the H-T form algebraically on the SAME overlap population
    — carrying both is a built-in consistency check. Two bounded
    aggregation passes."""
    strata = units.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(F.col(t_col).cast("long")).alias("n_t_s"),
        F.sum(F.when(F.col(t_col) == 1, F.col(y_col))).alias("sy_t"),
        F.sum(F.when(F.col(t_col) == 0, F.col(y_col))).alias("sy_c"),
    )
    tot = units.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.when(F.col(t_col) == 1, F.col(y_col))).alias("mean_t"),
        F.avg(F.when(F.col(t_col) == 0, F.col(y_col))).alias("mean_c"),
    )
    degenerate = (F.col("n_t_s") == 0) | (F.col("n_t_s") == F.col("n_s"))
    # per-stratum arm means and weights; H-T form: sy_t/p̂ = sy_t·n_s/n_t_s
    per = strata.select(
        "n_s",
        degenerate.alias("deg"),
        (F.col("sy_t") * F.col("n_s") / F.col("n_t_s")).alias("ht_t"),
        (F.col("sy_c") * F.col("n_s") / (F.col("n_s") - F.col("n_t_s"))).alias("ht_c"),
        (
            F.col("n_s")
            * (F.col("sy_t") / F.col("n_t_s") - F.col("sy_c") / (F.col("n_s") - F.col("n_t_s")))
        ).alias("strat_term"),
    )
    acc = per.agg(
        F.sum(F.when(~F.col("deg"), F.col("ht_t"))).alias("sht_t"),
        F.sum(F.when(~F.col("deg"), F.col("ht_c"))).alias("sht_c"),
        F.sum(F.when(~F.col("deg"), F.col("strat_term"))).alias("s_strat"),
        # trimmed denominator: units in strata where BOTH arms exist
        F.sum(F.when(~F.col("deg"), F.col("n_s")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_ov"),
        F.sum(F.col("deg").cast("long")).alias("n_deg"),
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return acc.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_units"),
        F.col("n_ov").alias("n_overlap_units"),
        F.col("n_deg").cast("long").alias("n_degenerate_strata"),
        rnd(F.col("mean_t") - F.col("mean_c")).alias("diff_naive"),
        rnd((F.col("sht_t") - F.col("sht_c")) / F.col("n_ov")).alias("ate_ipw"),
        rnd(F.col("s_strat") / F.col("n_ov")).alias("ate_stratified"),
    )


def did(
    units: DataFrame,
    y_pre_col: str = "y_pre",
    y_post_col: str = "y_post",
    t_col: str = "t",
    ndigits: int = 6,
) -> DataFrame:
    """Difference-in-differences over a two-period panel at unit grain:
    DiD = (ȳ_post,t − ȳ_pre,t) − (ȳ_post,c − ȳ_pre,c) — removes any
    additive unit-invariant time trend. Output (1 row): the four cell
    means, both arms' deltas, and the DiD estimate. One bounded pass."""
    is_t, is_c = F.col(t_col) == 1, F.col(t_col) == 0
    cells = units.agg(
        F.count(F.when(is_t, F.lit(1))).alias("n_t"),
        F.avg(F.when(is_t, F.col(y_pre_col))).alias("pre_t"),
        F.avg(F.when(is_t, F.col(y_post_col))).alias("post_t"),
        F.count(F.when(is_c, F.lit(1))).alias("n_c"),
        F.avg(F.when(is_c, F.col(y_pre_col))).alias("pre_c"),
        F.avg(F.when(is_c, F.col(y_post_col))).alias("post_c"),
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return cells.select(
        "n_t",
        "n_c",
        rnd(F.col("pre_t")).alias("pre_t"),
        rnd(F.col("post_t")).alias("post_t"),
        rnd(F.col("pre_c")).alias("pre_c"),
        rnd(F.col("post_c")).alias("post_c"),
        rnd(
            (F.col("post_t") - F.col("pre_t")) - (F.col("post_c") - F.col("pre_c"))
        ).alias("did"),
    )


def qini_curve(
    units: DataFrame,
    score_col: str,
    y_col: str,
    t_col: str,
    id_col: str,
    n_bins: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Uplift-model evaluation (Radcliffe's Qini): rank units by the
    targeting score (best first), cut into equal-count bins, and report
    the cumulative incremental outcome
    ``qini(b) = cum_y_t − cum_y_c · cum_n_t / cum_n_c`` against the
    random-targeting diagonal — the causal twin of lift_curve (which
    measures response, not INCREMENTAL response; a model that targets
    sure-things scores high on lift and ~0 on Qini).

    Scale shape: the lift_curve discipline — scale.global_rank (no
    single-partition data sort), integer bin arithmetic on rn, conditional
    aggregation to n_bins rows, cumulative window over those rows only.
    Output: (bin, n, n_t, cum_qini, qini_random), bin 0 = best-scored."""
    from pyspark.sql import Window

    from .scale import global_rank

    base = units.select(
        F.col(id_col).alias("_id"),
        F.col(y_col).cast("double").alias("_y"),
        F.col(t_col).cast("int").alias("_t"),
        (-F.col(score_col).cast("double")).alias("_negs"),
    )
    ranked = global_rank(base, "_negs", tie_cols=["_id"], with_rank=False)
    tot = base.agg(F.count(F.lit(1)).alias("_n"))
    binned = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"((rn - 1) * {n_bins}) div _n").alias("bin"),
            "_y",
            "_t",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_t").alias("n_t"),
            F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0.0)).alias("y_t"),
            F.sum(F.when(F.col("_t") == 0, F.col("_y")).otherwise(0.0)).alias("y_c"),
        )
    )
    w = Window.orderBy("bin")  # n_bins rows — bounded by construction
    cum = binned.select(
        "bin",
        "n",
        "n_t",
        F.sum("n").over(w).alias("_cn"),
        F.sum("n_t").over(w).alias("_cnt"),
        F.sum("y_t").over(w).alias("_cyt"),
        F.sum("y_c").over(w).alias("_cyc"),
    ).withColumn(
        "_qini",
        F.col("_cyt") - F.col("_cyc") * F.col("_cnt") / (F.col("_cn") - F.col("_cnt")),
    )
    total = cum.orderBy(F.col("bin").desc()).limit(1).select(
        F.col("_qini").alias("_q_final"), F.col("_cn").alias("_n_all")
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return cum.crossJoin(F.broadcast(total)).select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_t",
        rnd(F.col("_qini")).alias("cum_qini"),
        rnd(F.col("_q_final") * F.col("_cn") / F.col("_n_all")).alias("qini_random"),
    )


def propensity_match_att(
    units: DataFrame,
    id_col: str = "user_id",
    y_col: str = "y",
    t_col: str = "t",
    stratum_col: str = "stratum",
    ndigits: int = 6,
) -> DataFrame:
    """ATT by 1:1 within-stratum matching over an INTEGER outcome
    (quantize money to cents upstream) — the matching companion to
    ``ipw_ate``: instead of reweighting, each treated unit is paired with
    one control from its propensity stratum; unmatched treated units
    (strata with control shortage) are counted, never silently dropped
    into the estimate.

    Determinism (no RNG): within (stratum, arm), units are ranked by the
    48-bit md5 of ('match:' || id) with id tie-break, and the i-th treated
    matches the i-th control — a blind draw that replays identically in
    any engine (ties in covariates carry no information by construction
    here; callers wanting caliper matching pass finer strata).

    Exactness: matched-arm sums are exact int64; the two closing
    divisions (ATT, naive diff) are over exact operands.

    Scale shape: one (stratum, arm)-keyed rank window (per-task bound =
    largest stratum arm — pass hash-refined strata for hub safety), one
    (stratum, rank) join, one bounded agg.

    Output (1 row): (n_treated, n_control, n_matched,
    n_unmatched_treated, att, naive_diff)."""
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("match:"), F.col(id_col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(stratum_col, t_col).orderBy(h, F.col(id_col))
    ranked = units.select(
        F.col(stratum_col).alias("_s"),
        F.col(t_col).cast("int").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
        F.row_number().over(w).alias("_rn"),
    )
    tr = ranked.filter(F.col("_t") == 1).select("_s", "_rn", F.col("_y").alias("_yt"))
    ct = ranked.filter(F.col("_t") == 0).select("_s", "_rn", F.col("_y").alias("_yc"))
    pairs = tr.join(ct, ["_s", "_rn"])
    acc = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("_yt").cast("long").alias("syt"),
        F.sum("_yc").cast("long").alias("syc"),
    )
    tot = ranked.agg(
        F.sum(F.col("_t").cast("long")).cast("long").alias("n_treated"),
        F.sum((1 - F.col("_t")).cast("long")).cast("long").alias("n_control"),
        F.sum(F.col("_y") * F.col("_t")).cast("long").alias("st_all"),
        F.sum(F.col("_y") * (1 - F.col("_t"))).cast("long").alias("sc_all"),
    )
    j = acc.crossJoin(F.broadcast(tot))
    att = F.when(F.col("n_matched") > 0,
                 (F.col("syt") - F.col("syc")).cast("double") / F.col("n_matched")
                 ).otherwise(F.lit(0.0))
    naive = F.when(
        (F.col("n_treated") > 0) & (F.col("n_control") > 0),
        F.col("st_all").cast("double") / F.col("n_treated")
        - F.col("sc_all").cast("double") / F.col("n_control"),
    ).otherwise(F.lit(0.0))
    return j.select(
        "n_treated",
        "n_control",
        "n_matched",
        (F.col("n_treated") - F.col("n_matched")).alias("n_unmatched_treated"),
        (F.round(att, ndigits) + F.lit(0.0)).alias("att"),
        (F.round(naive, ndigits) + F.lit(0.0)).alias("naive_diff"),
    )


def rdd_estimate(
    units: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: int = 0,
    bandwidth: int = 0,
    ndigits: int = 6,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: local LINEAR fits on each
    side of the cutoff within ±``bandwidth``, effect = the jump between
    the two intercepts AT the cutoff (the causal design when treatment
    flips deterministically at a threshold — credit floors, score
    cutoffs, eligibility rules).

    Side convention: LEFT is running < cutoff, RIGHT is running ≥ cutoff
    (the treated side under a ≥-rule). Both fits recentre x at the
    cutoff, so each intercept IS the side's boundary prediction.

    Determinism discipline: ``running_col`` and ``outcome_col`` must be
    INTEGERS; each side's OLS sums (n, Σx, Σy, Σxy, Σx²) accumulate as
    DECIMAL(38,0) in ONE conditional-aggregate pass; slope/intercept are
    closed forms of the exact sums in fixed operand order.

    Output (1 row): (n_left, n_right, intercept_left, intercept_right,
    slope_left, slope_right, effect)."""
    x = (F.col(running_col) - F.lit(cutoff)).cast("long")
    y = F.col(outcome_col).cast("long")
    is_l = (x >= -F.lit(bandwidth)) & (x < 0)
    is_r = (x >= 0) & (x <= F.lit(bandwidth))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = units.filter(
        F.col(running_col).isNotNull() & y.isNotNull()
    ).agg(
        F.count(F.when(is_l, F.lit(1))).cast("long").alias("nl"),
        F.sum(F.when(is_l, dec(x))).alias("sxl"),
        F.sum(F.when(is_l, dec(y))).alias("syl"),
        F.sum(F.when(is_l, dec(x) * y)).alias("sxyl"),
        F.sum(F.when(is_l, dec(x) * x)).alias("sxxl"),
        F.count(F.when(is_r, F.lit(1))).cast("long").alias("nr"),
        F.sum(F.when(is_r, dec(x))).alias("sxr"),
        F.sum(F.when(is_r, dec(y))).alias("syr"),
        F.sum(F.when(is_r, dec(x) * y)).alias("sxyr"),
        F.sum(F.when(is_r, dec(x) * x)).alias("sxxr"),
    )

    def _fit(n, sx, sy, sxy, sxx):
        nd = F.col(n).cast("double")
        sxd, syd = F.col(sx).cast("double"), F.col(sy).cast("double")
        sxyd, sxxd = F.col(sxy).cast("double"), F.col(sxx).cast("double")
        det = nd * sxxd - sxd * sxd
        slope = F.when(
            (F.col(n) < 2) | (det == 0.0), F.lit(0.0)
        ).otherwise((nd * sxyd - sxd * syd) / det)
        intercept = F.when(F.col(n) < 1, F.lit(0.0)).otherwise(
            (syd - slope * sxd) / nd
        )
        return slope, intercept

    sl, il = _fit("nl", "sxl", "syl", "sxyl", "sxxl")
    sr, ir = _fit("nr", "sxr", "syr", "sxyr", "sxxr")
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return g.select(
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        rnd(il).alias("intercept_left"),
        rnd(ir).alias("intercept_right"),
        rnd(sl).alias("slope_left"),
        rnd(sr).alias("slope_right"),
        rnd(ir - il).alias("effect"),
    )


def iv_wald(
    units: DataFrame,
    instrument_col: str,
    treatment_col: str,
    outcome_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Wald instrumental-variable estimator (the one-instrument,
    one-treatment 2SLS closed form): LATE = ITT_y / ITT_t =
    (ȳ|z=1 − ȳ|z=0) / (t̄|z=1 − t̄|z=0) — the causal effect for
    compliers when the treatment itself is confounded but an
    encouragement Z is as-good-as-random.

    Determinism discipline: z/t binary ints, y INTEGER; one
    conditional-aggregate pass of exact integer sums; doubles combine
    them in fixed operand order. A weak instrument (first stage 0)
    emits NULL late rather than a garbage ratio.

    Output (1 row): (n, n_z1, itt_y, itt_t, late)."""
    z = F.col(instrument_col).cast("int")
    t = F.col(treatment_col).cast("long")
    y = F.col(outcome_col).cast("long")
    g = units.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(z.cast("long")).cast("long").alias("n1"),
        F.sum(F.when(z == 1, y)).cast("long").alias("sy1"),
        F.sum(F.when(z == 0, y)).cast("long").alias("sy0"),
        F.sum(F.when(z == 1, t)).cast("long").alias("st1"),
        F.sum(F.when(z == 0, t)).cast("long").alias("st0"),
    )
    n1 = F.col("n1").cast("double")
    n0 = (F.col("n") - F.col("n1")).cast("double")
    degen = (F.col("n1") == 0) | (F.col("n") == F.col("n1"))
    itt_y = F.when(degen, F.lit(0.0)).otherwise(
        F.col("sy1").cast("double") / n1 - F.col("sy0").cast("double") / n0
    )
    itt_t = F.when(degen, F.lit(0.0)).otherwise(
        F.col("st1").cast("double") / n1 - F.col("st0").cast("double") / n0
    )
    late = F.when(itt_t == 0.0, F.lit(None).cast("double")).otherwise(
        itt_y / itt_t
    )
    rnd = lambda c: F.round(c, ndigits) + F.lit(0.0)  # noqa: E731
    return g.select(
        F.col("n"),
        F.col("n1").alias("n_z1"),
        rnd(itt_y).alias("itt_y"),
        rnd(itt_t).alias("itt_t"),
        (F.round(late, ndigits) + F.lit(0.0)).alias("late"),
    )


def granger_lag1(
    joined: DataFrame,
    keys: list[str],
    target_col: str,
    target_lag_col: str,
    cross_lag_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Lag-1 Granger-causality F test per key: does adding y_{t−1} to the
    AR(1) model x_t ~ x_{t−1} reduce residual variance? F = (SSE_r −
    SSE_u)/(SSE_u/(n−3)) for the one added regressor — the "does the
    market LEAD this series" readout completing the causal family
    (CUPED/IPW/DiD/RDD/IV measure treatment effects; this tests temporal
    precedence).

    Determinism: inputs must be integer-quantized (e6 returns). Both
    regressions solve in closed form from NINE exact DECIMAL(38,0)
    moments (n, Σu, Σw, Σv, Σu², Σw², Σuv, Σwv, Σuw with u = x_{t−1},
    w = y_{t−1}, v = x_t) via centered sums S·· = n·Σ·· − Σ·Σ·; the F
    statistic is one fixed-operand-order double expression. One
    aggregation pass per key.

    Output per key: (keys..., n, beta_ar, beta_cross, f_stat)."""
    u = F.col(target_lag_col)
    w = F.col(cross_lag_col)
    v = F.col(target_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    acc = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(u)).alias("su"),
        F.sum(dec(w)).alias("sw"),
        F.sum(dec(v)).alias("sv"),
        F.sum(dec(u) * u).alias("suu"),
        F.sum(dec(w) * w).alias("sww"),
        F.sum(dec(u) * v).alias("suv"),
        F.sum(dec(w) * v).alias("swv"),
        F.sum(dec(u) * w).alias("suw"),
        F.sum(dec(v) * v).alias("svv"),
    )
    n = F.col("n").cast("double")
    cuu = n * F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su").cast("double")
    cww = n * F.col("sww").cast("double") - F.col("sw").cast("double") * F.col("sw").cast("double")
    cuv = n * F.col("suv").cast("double") - F.col("su").cast("double") * F.col("sv").cast("double")
    cwv = n * F.col("swv").cast("double") - F.col("sw").cast("double") * F.col("sv").cast("double")
    cuw = n * F.col("suw").cast("double") - F.col("su").cast("double") * F.col("sw").cast("double")
    cvv = n * F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv").cast("double")
    det = cuu * cww - cuw * cuw
    b = (cuv * cww - cwv * cuw) / det
    c = (cwv * cuu - cuv * cuw) / det
    sse_u = cvv - b * cuv - c * cwv
    sse_r = cvv - F.when(cuu == 0.0, F.lit(0.0)).otherwise(cuv * cuv / cuu)
    f_stat = F.when(
        (F.col("n") < 4) | (det == 0.0) | (sse_u <= 0.0), F.lit(0.0)
    ).otherwise((sse_r - sse_u) / (sse_u / (n - 3.0)))
    rnd = lambda col: F.round(col, ndigits) + F.lit(0.0)  # noqa: E731
    return acc.select(
        *keys,
        F.col("n"),
        rnd(F.when(det == 0.0, F.lit(0.0)).otherwise(b)).alias("beta_ar"),
        rnd(F.when(det == 0.0, F.lit(0.0)).otherwise(c)).alias("beta_cross"),
        rnd(f_stat).alias("f_stat"),
    )
