"""Round-8 wave-4 contract entries: the Grubbs extreme-outlier statistic,
the Ljung–Box whiteness portmanteau, Gumbel return levels from block
maxima (the hydrology/climatology "T-year event" the reference's gridMET
consumers compute downstream), and the Page–Hinkley sequential drift
detector.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline: Grubbs' argmax is the exact integer |n·x − S| (never a float);
Ljung–Box autocorrelations are exact integer ratios after multiplying
through by n²; Gumbel moments are DECIMAL(38,0) sums of exact block
maxima; Page–Hinkley's running mean is an exact per-row integer ratio and
its cumsum/min ride ordered frames (the kaplan_meier precedent);
|lags|-row sums quantize max-normalized floor-e12; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT16_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# grubbs_stat: the single most extreme order value
# ---------------------------------------------------------------------------


def q_grubbs_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs statistic of order totals (cents): how many sample sigmas
    out is the most extreme order, and which value is it
    (operators/stats.py::grubbs_stat)."""
    from gridmet_etl_spark.operators.stats import grubbs_stat

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    return grubbs_stat(o, "cents")


SQL_GRUBBS_STAT = f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
  WHERE o_totalprice IS NOT NULL),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM v),
dev AS (
  SELECT x, abs(CAST(n AS HUGEINT) * x - s) AS d FROM v, acc),
worst AS (SELECT x AS outlier_value FROM dev ORDER BY d DESC, x ASC LIMIT 1),
mo AS (
  SELECT n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         sqrt(greatest(CASE WHEN n < 2 THEN 0.0
               ELSE (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               END, 0.0)) AS sd
  FROM acc)
SELECT n,
       ROUND(mean, {R}) + 0 AS mean,
       ROUND(sd, {R}) + 0 AS sd,
       outlier_value,
       ROUND(CASE WHEN sd <= 0.0 THEN 0.0
             ELSE abs(CAST(outlier_value AS DOUBLE) - mean) / sd END,
             {R}) + 0 AS g_stat
FROM mo, worst
"""


EXT16_QUERIES["grubbs_stat"] = (q_grubbs_stat, SQL_GRUBBS_STAT)

# ---------------------------------------------------------------------------
# ljung_box: is the daily order series white noise?
# ---------------------------------------------------------------------------

_LB_LAGS = (1, 2, 3, 7, 14)


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau on the daily order-count series: ACF at
    lags 1/2/3/7/14 (exact integer ratios after multiplying through by
    n²) plus the pooled Q — the whiteness gate forecast residuals must
    pass (operators/timeseries.py::ljung_box)."""
    from gridmet_etl_spark.operators.timeseries import ljung_box

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return ljung_box(daily, "day", "cnt", lags=_LB_LAGS)


def _sql_ljung_box() -> str:
    lag_sums = "\n".join(
        f"""         sum(CASE WHEN l{k} IS NOT NULL
                  THEN CAST(v AS HUGEINT) * l{k} END) AS sxy{k},
         sum(CASE WHEN l{k} IS NOT NULL THEN CAST(v AS HUGEINT) END) AS h{k},
         sum(CASE WHEN l{k} IS NOT NULL THEN CAST(l{k} AS HUGEINT) END)
           AS t{k},
         CAST(count(CASE WHEN l{k} IS NOT NULL THEN 1 END) AS BIGINT)
           AS np{k},"""
        for k in _LB_LAGS
    ).rstrip(",")
    lag_cols = ",\n".join(
        f"         lag(v, {k}) OVER (ORDER BY day) AS l{k}" for k in _LB_LAGS
    )
    per_lag = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS INT) AS lag, n, np{k} AS n_pairs,
       CASE WHEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) <= 0.0 THEN 0.0
       ELSE (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(sxy{k} AS DOUBLE)
             - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
               * (CAST(h{k} AS DOUBLE) + CAST(t{k} AS DOUBLE))
             + (CAST(n AS DOUBLE) - {float(k)}) * CAST(s AS DOUBLE)
               * CAST(s AS DOUBLE))
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))
       END AS r
FROM acc"""
        for k in _LB_LAGS
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
lagged AS (
  SELECT v,
{lag_cols}
  FROM daily),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(v AS HUGEINT)) AS s,
         sum(CAST(v AS HUGEINT) * v) AS q2,
{lag_sums}
  FROM lagged),
per_lag AS (
{per_lag}),
terms AS (
  SELECT lag, n, n_pairs, r,
         r * r / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) AS t
  FROM per_lag),
tm AS (SELECT max(t) AS tm FROM terms),
qs AS (
  SELECT CAST(any_value(n) AS DOUBLE)
           * (CAST(any_value(n) AS DOUBLE) + 2.0)
           * (CAST(sum(CASE WHEN tm > 0.0
                            THEN CAST(floor(t / tm * 1e12) AS BIGINT)
                            ELSE 0 END) AS DOUBLE) / 1e12 * any_value(tm))
           AS qstat
  FROM terms, tm)
SELECT lag, n, n_pairs,
       ROUND(r, {R}) + 0 AS r,
       ROUND(qstat, {R}) + 0 AS q_stat
FROM terms, qs
"""


EXT16_QUERIES["ljung_box"] = (q_ljung_box, _sql_ljung_box())

# ---------------------------------------------------------------------------
# return_levels: the T-year daily order peak (Gumbel block maxima)
# ---------------------------------------------------------------------------

_RL_PERIODS = (10, 50, 100)


def q_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel 10/50/100-period return levels of the daily order-count
    peak, from yearly block maxima by method of moments — the T-year
    event estimate the reference's hydrology consumers run on gridMET
    output (operators/timeseries.py::gumbel_return_levels)."""
    from gridmet_etl_spark.operators.timeseries import gumbel_return_levels

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    yearly = daily.select(F.year("day").alias("yr"), "cnt")
    return gumbel_return_levels(yearly, "yr", "cnt", return_periods=_RL_PERIODS)


def _sql_return_levels() -> str:
    periods = ", ".join(f"({t})" for t in _RL_PERIODS)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
maxima AS (
  SELECT year(day) AS yr, max(v) AS m FROM daily GROUP BY 1),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         sum(CAST(m AS HUGEINT)) AS s,
         sum(CAST(m AS HUGEINT) * m) AS q
  FROM maxima),
mo AS (
  SELECT n_blocks,
         CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean,
         sqrt(greatest(CASE WHEN n_blocks < 2 THEN 0.0
               ELSE (CAST(n_blocks AS DOUBLE) * CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n_blocks AS DOUBLE)
                       * (CAST(n_blocks AS DOUBLE) - 1.0))
               END, 0.0)) AS sd
  FROM acc),
gb AS (
  SELECT n_blocks, sd * 0.7796968012336793 AS beta,
         mean - 0.5772156649015329 * (sd * 0.7796968012336793) AS mu
  FROM mo),
periods(return_period) AS (VALUES {periods})
SELECT CAST(return_period AS INT) AS return_period, n_blocks,
       ROUND(mu, {R}) + 0 AS mu,
       ROUND(beta, {R}) + 0 AS beta,
       ROUND(mu - beta * ln(-ln(1.0 - 1.0 / CAST(return_period AS DOUBLE))),
             {R}) + 0 AS return_level
FROM gb, periods
"""


EXT16_QUERIES["return_levels"] = (q_return_levels, _sql_return_levels())

# ---------------------------------------------------------------------------
# page_hinkley: sequential upward-drift alarms on daily order volume
# ---------------------------------------------------------------------------

_PH_LAMBDA = 100.0


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley alarm days on the daily order-count series (δ=0,
    λ=100): days where the cumulative deviation from the evolving mean
    exceeds its running minimum by λ
    (operators/timeseries.py::page_hinkley)."""
    from gridmet_etl_spark.operators.timeseries import page_hinkley

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return page_hinkley(daily, "day", "cnt", delta=0.0, lam=_PH_LAMBDA)


SQL_PAGE_HINKLEY = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
stepped AS (
  SELECT day, v,
         sum(CAST(v AS HUGEINT)) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING) AS s,
         row_number() OVER (ORDER BY day) AS i
  FROM daily),
u AS (
  SELECT day, v,
         CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(i AS DOUBLE) - 0.0
           AS u
  FROM stepped),
cumu AS (
  SELECT day, v,
         sum(u) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS uu
  FROM u),
m AS (
  SELECT day, v, uu,
         min(uu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mn
  FROM cumu)
SELECT day, v AS value,
       ROUND(uu, {R}) + 0 AS ph,
       ROUND(uu - mn, {R}) + 0 AS excess
FROM m WHERE uu - mn > {_PH_LAMBDA}
"""


EXT16_QUERIES["page_hinkley"] = (q_page_hinkley, SQL_PAGE_HINKLEY)
