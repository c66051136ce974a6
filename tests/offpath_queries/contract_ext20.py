"""Round-9 wave-1 contract entries: six classical inference/eval shapes
completing the statistics family around the existing ANOVA/Kruskal/
Friedman/runs_test block — Mood's median test (the outlier-immune k-group
comparison), the paired sign test (wilcoxon_signed without rank weights),
Page's L (Friedman with a monotone-trend alternative), the turning-point
randomness gate and Durbin–Watson lag-1 autocorrelation on the daily order
series, and pinball-loss quantile-forecast evaluation built on an exact
distributed order statistic (operators/stats.py::exact_quantiles — the
two-level bucket plan that replaces a global sort at 100 TB).

Discipline (the ext19 conventions): every input quantizes to integer
cents; counts/ranks/L are exact integers; quadratic/residual sums
accumulate DECIMAL(38,0)/HUGEINT; |k|-row χ² term sums quantize
max-normalized floor-e12; z/χ²/loss forms are single fixed-operand-order
double expressions of exact integers; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT20_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# mood_median: k-group location comparison on the side-of-median table
# ---------------------------------------------------------------------------


def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of line-item value (cents) across returnflag
    groups — the same comparison anova_oneway/kruskal_wallis run, judged
    only by which side of the grand median each value falls on."""
    from gridmet_etl_spark.operators.stats import mood_median_test

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_returnflag",
    )
    return mood_median_test(li, "cents", "l_returnflag")


SQL_MOOD_MEDIAN = f"""
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
tot0 AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM v),
vc AS (SELECT x, count(*) AS c FROM v GROUP BY x),
cm AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum FROM vc),
med AS (
  SELECT min(x) AS m FROM cm, tot0
  WHERE cum >= CAST(ceil(CAST(n0 AS DOUBLE) * 0.5) AS BIGINT)),
per_g AS (
  SELECT g, CAST(count(CASE WHEN x > m THEN 1 END) AS BIGINT) AS a_g,
         CAST(count(*) AS BIGINT) AS n_g, max(m) AS m
  FROM v, med GROUP BY g),
t AS (SELECT CAST(sum(a_g) AS BIGINT) AS A, CAST(sum(n_g) AS BIGINT) AS n
      FROM per_g),
parts AS (
  SELECT per_g.*, t.A, t.n, t.n - t.A AS B,
         CAST((CAST(t.n AS HUGEINT) * a_g - CAST(n_g AS HUGEINT) * t.A)
              * (CAST(t.n AS HUGEINT) * a_g - CAST(n_g AS HUGEINT) * t.A)
              AS DOUBLE) / CAST(n_g AS DOUBLE) AS term
  FROM per_g, t),
pm AS (SELECT max(term) AS tm FROM parts),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n, max(A) AS A,
         max(B) AS B, max(m) AS median,
         CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(term / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * max(tm) AS tsum
  FROM parts, pm)
SELECT CAST(k AS INT) AS k, n, median,
       ROUND(CASE WHEN A <= 0 OR B <= 0 THEN 0.0
             ELSE tsum / (CAST(A AS DOUBLE) * CAST(B AS DOUBLE)) END, {R}) + 0
         AS chi2,
       k - 1 AS df
FROM agg
"""


EXT20_QUERIES["mood_median"] = (q_mood_median, SQL_MOOD_MEDIAN)

# ---------------------------------------------------------------------------
# sign_test: did the last line of an order grow vs its first line?
# ---------------------------------------------------------------------------


def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test over multi-line orders: last line's quantity vs
    first line's (by line number) — the assumption-free "did it move up
    or down" paired readout."""
    from gridmet_etl_spark.operators.stats import sign_test

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    # lexicographic (linenumber, quantity) min/max packed into ONE BIGINT:
    # the synthetic lineitem has ~12k duplicate (orderkey, linenumber)
    # pairs, so a bare min_by tiebreak is engine-arbitrary — but a struct
    # min/max buffer is immutable and silently downgrades this fact-table
    # aggregation to SortAggregate (a per-partition sort of ALL of
    # lineitem; the r9 minhash spill class). l_quantity is exact at 2
    # decimals (verified 0 roundtrip error at sf0.001-0.1), so
    # ln*100000 + cents is the same total order in a mutable LONG buffer
    # → HashAggregate with map-side partials. sign_test only COMPARES
    # pre/post, and cents compare identically to quantities (monotone),
    # so no decode is needed.
    code = F.col("l_linenumber").cast("long") * 100000 + F.round(
        F.col("l_quantity") * 100
    ).cast("long")
    pairs = (
        li.groupBy("l_orderkey")
        .agg(
            (F.min(code) % 100000).alias("pre"),
            (F.max(code) % 100000).alias("post"),
            F.count(F.lit(1)).alias("_c"),
        )
        .where(F.col("_c") >= 2)
    )
    return sign_test(pairs, "pre", "post")


SQL_SIGN_TEST = f"""
WITH p AS (
  -- packed (linenumber, cents) BIGINT min/max (not arg_min): duplicate
  -- (orderkey, linenumber) pairs exist, so the lexicographic order is the
  -- engine-identical total order; the pack mirrors the Spark side's
  -- HashAggregate-safe mutable LONG buffer (quantities are exact at 2dp)
  SELECT l_orderkey,
         min(CAST(l_linenumber AS BIGINT)*100000
             + CAST(round(l_quantity*100) AS BIGINT)) % 100000 AS pre,
         max(CAST(l_linenumber AS BIGINT)*100000
             + CAST(round(l_quantity*100) AS BIGINT)) % 100000 AS post,
         count(*) AS c
  FROM lineitem GROUP BY l_orderkey),
pairs AS (SELECT pre, post FROM p WHERE c >= 2),
a AS (
  SELECT CAST(count(CASE WHEN post > pre THEN 1 END) AS BIGINT) AS n_pos,
         CAST(count(CASE WHEN post < pre THEN 1 END) AS BIGINT) AS n_neg,
         CAST(count(CASE WHEN post = pre THEN 1 END) AS BIGINT) AS n_tie
  FROM pairs)
SELECT n_pos, n_neg, n_tie,
       ROUND(CASE WHEN n_pos + n_neg <= 0 THEN 0.0
             ELSE CAST(n_pos - n_neg AS DOUBLE)
                  / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END, {R}) + 0 AS z
FROM a
"""


EXT20_QUERIES["sign_test"] = (q_sign_test, SQL_SIGN_TEST)

# ---------------------------------------------------------------------------
# turning_points: is the daily order-count series serially random?
# ---------------------------------------------------------------------------


def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on the daily order-count series —
    the quick i.i.d. gate next to runs_test/ljung_box (trend and
    seasonality depress the extrema count, oscillation inflates it)."""
    from gridmet_etl_spark.operators.timeseries import turning_point_test

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    return turning_point_test(daily, "day", "v")


SQL_TURNING_POINTS = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
f AS (SELECT v, lag(v) OVER (ORDER BY day) AS p,
             lead(v) OVER (ORDER BY day) AS fn
      FROM d),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(CASE WHEN (v > p AND v > fn) OR (v < p AND v < fn)
                         THEN 1 END) AS BIGINT) AS n_turning
  FROM f)
SELECT n, n_turning,
       ROUND(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, {R}) + 0 AS expected,
       ROUND(CASE WHEN n < 4 OR (16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0 <= 0.0
             THEN 0.0
             ELSE (CAST(n_turning AS DOUBLE)
                   - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                  / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
             END, {R}) + 0 AS z
FROM a
"""


EXT20_QUERIES["turning_points"] = (q_turning_points, SQL_TURNING_POINTS)

# ---------------------------------------------------------------------------
# durbin_watson: lag-1 autocorrelation of daily revenue
# ---------------------------------------------------------------------------


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson on the mean-detrended daily revenue series (exact
    integer residual algebra — operators/timeseries.py::durbin_watson)."""
    from gridmet_etl_spark.operators.timeseries import durbin_watson

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    return durbin_watson(daily, "day", "v")


SQL_DURBIN_WATSON = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(v AS HUGEINT)) AS s
        FROM d),
e AS (
  SELECT CAST(n AS HUGEINT) * v - s AS e,
         lag(CAST(n AS HUGEINT) * v - s) OVER (ORDER BY day) AS ep, n
  FROM d, tot),
a AS (
  SELECT max(n) AS n, sum(e * e) AS den,
         sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep) END) AS num
  FROM e)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN CAST(den AS DOUBLE) <= 0.0 THEN 0.0
             ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END, {R}) + 0 AS dw
FROM a
"""


EXT20_QUERIES["durbin_watson"] = (q_durbin_watson, SQL_DURBIN_WATSON)

# ---------------------------------------------------------------------------
# page_trend: monotone revenue trend across ordered priority classes
# ---------------------------------------------------------------------------


def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L across the five ordered priority classes (1-URGENT …
    5-LOW), blocked by order year — friedman_test's trend-directed
    sibling on yearly revenue."""
    from gridmet_etl_spark.operators.stats import page_trend_test

    o = spark.read.parquet(_t(sf_dir, "orders"))
    cells = o.groupBy(
        F.year("o_orderdate").cast("long").alias("blk"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("j"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    return page_trend_test(cells, "blk", "j", "v")


SQL_PAGE_TREND = f"""
WITH pa AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS blk,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2),
kc AS (SELECT CAST(count(DISTINCT j) AS BIGINT) AS k FROM pa),
comp AS (SELECT blk FROM pa GROUP BY blk
         HAVING count(*) = (SELECT k FROM kc)),
ranked AS (
  SELECT pa.blk, pa.j,
         row_number() OVER (PARTITION BY pa.blk ORDER BY pa.v, pa.j) AS r
  FROM pa JOIN comp USING (blk)),
rs AS (SELECT j, CAST(sum(r) AS BIGINT) AS rj,
              CAST(count(DISTINCT blk) AS BIGINT) AS b
       FROM ranked GROUP BY j),
a AS (SELECT CAST(sum(j * rj) AS BIGINT) AS l_stat,
             CAST(count(*) AS BIGINT) AS k, CAST(max(b) AS BIGINT) AS b
      FROM rs)
SELECT b, k, l_stat,
       ROUND(CASE WHEN k < 2 OR b < 1 THEN 0.0 ELSE
         (12.0 * CAST(l_stat AS DOUBLE)
          - 3.0 * CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
            * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0))
         / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
            * sqrt(CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)))
       END, {R}) + 0 AS z
FROM a
"""


EXT20_QUERIES["page_trend"] = (q_page_trend, SQL_PAGE_TREND)

# ---------------------------------------------------------------------------
# pinball_loss: quantile-forecast evaluation on daily revenue
# ---------------------------------------------------------------------------

_PB_SPLIT = "1999-01-01"
_PB_TAUS = (0.1, 0.5, 0.9)


def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss of static τ-quantile forecasts (τ ∈ {{0.1, 0.5, 0.9}})
    trained on pre-1999 daily revenue and scored on the rest — the proper
    scoring rule for quantile forecasts, over the exact distributed order
    statistic (no percentile_approx, no global sort)."""
    from gridmet_etl_spark.operators.stats import pinball_eval

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    train = daily.where(F.col("day") < F.lit(_PB_SPLIT)).select("v")
    test = daily.where(F.col("day") >= F.lit(_PB_SPLIT)).select("v")
    return pinball_eval(train, test, "v", list(_PB_TAUS))


SQL_PINBALL_LOSS = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
tr AS (SELECT v FROM d WHERE day < DATE '{_PB_SPLIT}'),
te AS (SELECT v FROM d WHERE day >= DATE '{_PB_SPLIT}'),
n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
vc AS (SELECT v, count(*) AS c FROM tr GROUP BY v),
cm AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM vc),
taus AS (SELECT CAST(tau AS DOUBLE) AS tau
         FROM (VALUES (0.1), (0.5), (0.9)) AS t(tau)),
fc AS (
  SELECT tau, min(v) AS f FROM taus, cm, n0
  WHERE cum >= CAST(ceil(CAST(n AS DOUBLE) * tau) AS BIGINT)
  GROUP BY tau),
sc AS (
  SELECT tau, f,
         sum(CAST(greatest(v - f, 0) AS HUGEINT)) AS p,
         sum(CAST(greatest(f - v, 0) AS HUGEINT)) AS m,
         CAST(count(*) AS BIGINT) AS n
  FROM te, fc GROUP BY tau, f)
SELECT tau, CAST(f AS BIGINT) AS forecast,
       ROUND((tau * CAST(p AS DOUBLE) + (1.0 - tau) * CAST(m AS DOUBLE))
             / CAST(n AS DOUBLE), {R}) + 0 AS pinball
FROM sc
"""


EXT20_QUERIES["pinball_loss"] = (q_pinball_loss, SQL_PINBALL_LOSS)
