"""Round-9 wave-3 contract entries: the finance/risk window family over
keyed daily order series — historical VaR/CVaR, CAPM beta/alpha against
the market series, Sharpe/Sortino, stochastic-oscillator breach days, and
on-balance volume. Completes the technical-indicator block started by
rsi_indicator / bollinger_breakouts / max_drawdown (ext10/ext14).

Discipline: daily revenue quantizes to integer cents; day-over-day
returns quantize to e6 integers THE MOMENT they are computed (one
identical double expression on both engines, then exact integer moments
— docs/SWEEP_SF01.md: raw double sums drift a ULP between engines at
sf0.1 magnitude); order statistics are value-based (tie-deterministic);
every published float is one fixed-operand-order double expression.

Scale shape: one shuffle on the series key per query; per-task state
bounded by one key's days. Operators in operators/risk.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import R, _t

EXT22_QUERIES: dict = {}


def _daily_priority_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    return o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )


_SQL_DAILY_PRI = """
daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2)
"""

# ---------------------------------------------------------------------------
# var_cvar: historical VaR95 / CVaR95 of daily revenue drops per priority
# ---------------------------------------------------------------------------


def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% VaR and CVaR of the day-over-day revenue DROP per
    order priority — the ⌈0.95·n⌉-th order statistic of integer cent
    losses and the value-conditioned tail mean
    (operators/risk.py::historical_var)."""
    from gridmet_etl_spark.operators.risk import historical_var

    daily = _daily_priority_cents(spark, sf_dir)
    w = Window.partitionBy("priority").orderBy("day")
    losses = daily.select(
        "priority",
        (F.lag("cents").over(w) - F.col("cents")).alias("loss"),
    ).filter(F.col("loss").isNotNull())
    return historical_var(losses, ["priority"], "loss", alpha=0.95)


SQL_VAR_CVAR = f"""
WITH {_SQL_DAILY_PRI},
losses AS (
  SELECT priority,
         lag(cents) OVER (PARTITION BY priority ORDER BY day) - cents
           AS loss
  FROM daily),
l AS (SELECT priority, loss FROM losses WHERE loss IS NOT NULL),
ranked AS (
  SELECT priority, loss,
         row_number() OVER (PARTITION BY priority ORDER BY loss) AS rn,
         count(*) OVER (PARTITION BY priority) AS n
  FROM l),
kth AS (
  SELECT priority, min(loss) AS v
  FROM ranked
  WHERE rn >= CAST(ceil(0.95 * n) AS BIGINT)
  GROUP BY priority),
tail AS (
  SELECT l.priority, sum(CAST(l.loss AS HUGEINT)) AS ts,
         CAST(count(*) AS BIGINT) AS tn, min(kth.v) AS v
  FROM l JOIN kth ON l.priority = kth.priority
  WHERE l.loss >= kth.v
  GROUP BY l.priority),
base AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n, max(loss) AS worst
  FROM l GROUP BY priority)
SELECT base.priority, base.n,
       ROUND(CAST(tail.v AS DOUBLE) / 100.0, {R}) + 0 AS var,
       ROUND(CAST(tail.ts AS DOUBLE) / CAST(tail.tn AS DOUBLE) / 100.0,
             {R}) + 0 AS cvar,
       ROUND(CAST(base.worst AS DOUBLE) / 100.0, {R}) + 0 AS worst
FROM base JOIN tail ON base.priority = tail.priority
"""


EXT22_QUERIES["var_cvar"] = (q_var_cvar, SQL_VAR_CVAR)

# ---------------------------------------------------------------------------
# capm_beta: per-priority revenue beta against the all-orders market series
# ---------------------------------------------------------------------------


def _returns_e6(daily: DataFrame, keys: list[str]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy("day")
    prev = F.lag("cents").over(w)
    r = F.round(
        (F.col("cents") - prev).cast("double") * 1e6 / prev.cast("double"), 0
    ).cast("long")
    return daily.select(*keys, "day", r.alias("r")).filter(F.col("r").isNotNull())


def q_capm_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM beta/alpha/corr of each priority's daily e6 revenue returns
    against the whole-book market return — exact DECIMAL(38,0) moments,
    one division (operators/risk.py::capm_beta)."""
    from gridmet_etl_spark.operators.risk import capm_beta

    daily = _daily_priority_cents(spark, sf_dir)
    asset = _returns_e6(daily, ["priority"])
    market_daily = daily.groupBy("day").agg(F.sum("cents").alias("cents"))
    w = Window.orderBy("day")
    prevm = F.lag("cents").over(w)
    market = market_daily.select(
        "day",
        F.round(
            (F.col("cents") - prevm).cast("double") * 1e6 / prevm.cast("double"),
            0,
        ).cast("long").alias("rm"),
    ).filter(F.col("rm").isNotNull())
    joined = asset.join(F.broadcast(market), "day")
    return capm_beta(joined, ["priority"], "r", "rm")


SQL_CAPM_BETA = f"""
WITH {_SQL_DAILY_PRI},
asset AS (
  SELECT priority, day,
         CAST(round(CAST(cents - lag(cents) OVER w AS DOUBLE) * 1e6
                    / CAST(lag(cents) OVER w AS DOUBLE)) AS BIGINT) AS r
  FROM daily WINDOW w AS (PARTITION BY priority ORDER BY day)),
mdaily AS (SELECT day, sum(cents) AS cents FROM daily GROUP BY day),
market AS (
  SELECT day,
         CAST(round(CAST(cents - lag(cents) OVER w AS DOUBLE) * 1e6
                    / CAST(lag(cents) OVER w AS DOUBLE)) AS BIGINT) AS rm
  FROM mdaily WINDOW w AS (ORDER BY day)),
j AS (
  SELECT a.priority, a.r, m.rm
  FROM asset a JOIN market m ON a.day = m.day
  WHERE a.r IS NOT NULL AND m.rm IS NOT NULL),
acc AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(r AS HUGEINT)) AS sx, sum(CAST(rm AS HUGEINT)) AS sy,
         sum(CAST(r AS HUGEINT) * rm) AS sxy,
         sum(CAST(r AS HUGEINT) * r) AS sxx,
         sum(CAST(rm AS HUGEINT) * rm) AS syy
  FROM j GROUP BY priority),
fin AS (
  SELECT priority, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM acc),
b AS (
  SELECT priority, n, num, denx, deny, sxd, syd,
         CASE WHEN deny = 0.0 THEN 0.0 ELSE num / deny END AS beta
  FROM fin)
SELECT priority, n,
       ROUND(beta, {R}) + 0 AS beta,
       ROUND((sxd - beta * syd) / CAST(n AS DOUBLE), {R}) + 0 AS alpha_e6,
       ROUND(CASE WHEN denx <= 0.0 OR deny <= 0.0 THEN 0.0
             ELSE num / (sqrt(denx) * sqrt(deny)) END, {R}) + 0 AS corr
FROM b
"""


EXT22_QUERIES["capm_beta"] = (q_capm_beta, SQL_CAPM_BETA)

# ---------------------------------------------------------------------------
# sharpe_sortino: risk-adjusted return ratios per priority
# ---------------------------------------------------------------------------


def q_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharpe and Sortino ratios of each priority's daily e6 revenue
    returns — sample sd and 0-target downside deviation from exact
    integer moments (operators/risk.py::sharpe_sortino)."""
    from gridmet_etl_spark.operators.risk import sharpe_sortino

    daily = _daily_priority_cents(spark, sf_dir)
    return sharpe_sortino(_returns_e6(daily, ["priority"]), ["priority"], "r")


SQL_SHARPE_SORTINO = f"""
WITH {_SQL_DAILY_PRI},
asset AS (
  SELECT priority,
         CAST(round(CAST(cents - lag(cents) OVER w AS DOUBLE) * 1e6
                    / CAST(lag(cents) OVER w AS DOUBLE)) AS BIGINT) AS r
  FROM daily WINDOW w AS (PARTITION BY priority ORDER BY day)),
l AS (SELECT priority, r FROM asset WHERE r IS NOT NULL),
acc AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(r AS HUGEINT)) AS s,
         sum(CAST(r AS HUGEINT) * r) AS q,
         sum(CAST(CASE WHEN r < 0 THEN r ELSE 0 END AS HUGEINT)
             * CASE WHEN r < 0 THEN r ELSE 0 END) AS qd
  FROM l GROUP BY priority),
fin AS (
  SELECT priority, n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS var_n,
         sqrt(CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)) AS dd
  FROM acc)
SELECT priority, n,
       ROUND(mean, {R}) + 0 AS mean_e6,
       ROUND(CASE WHEN n < 2 OR var_n <= 0.0 THEN 0.0
             ELSE mean / sqrt(var_n / (CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) - 1.0))) END,
             {R}) + 0 AS sharpe,
       ROUND(CASE WHEN dd = 0.0 THEN 0.0 ELSE mean / dd END, {R}) + 0
         AS sortino
FROM fin
"""


EXT22_QUERIES["sharpe_sortino"] = (q_sharpe_sortino, SQL_SHARPE_SORTINO)

# ---------------------------------------------------------------------------
# stoch_osc: stochastic-oscillator breach days on regional order counts
# ---------------------------------------------------------------------------


def q_stoch_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days a region's daily order count leaves the stochastic
    oscillator's [20, 80] band (14-day %K, 3-day %D) — %K quantized to an
    exact e6 integer before the %D average so no float window sum crosses
    engines (operators/risk.py::stochastic_oscillator)."""
    from gridmet_etl_spark.operators.risk import stochastic_oscillator

    o = spark.read.parquet(_t(sf_dir, "orders"))
    c = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_regionkey"
    )
    reg = spark.read.parquet(_t(sf_dir, "region"))
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    return stochastic_oscillator(daily, ["region"], "day", "v")


SQL_STOCH_OSC = f"""
WITH daily AS (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
wnd AS (
  SELECT region, day, v,
         min(v) OVER w AS mn, max(v) OVER w AS mx, count(*) OVER w AS ck
  FROM daily
  WINDOW w AS (PARTITION BY region ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
k AS (
  SELECT region, day, v,
         CASE WHEN mx = mn THEN CAST(50000000 AS BIGINT)
              ELSE CAST(round(CAST(v - mn AS DOUBLE) * 1e8
                              / CAST(mx - mn AS DOUBLE)) AS BIGINT)
         END AS k_e6
  FROM wnd WHERE ck >= 14),
d AS (
  SELECT region, day, v, k_e6,
         sum(CAST(k_e6 AS HUGEINT)) OVER w AS dsum, count(*) OVER w AS cd
  FROM k
  WINDOW w AS (PARTITION BY region ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
SELECT region, day, v AS value,
       ROUND(CAST(k_e6 AS DOUBLE) / 1e6, {R}) + 0 AS k_pct,
       ROUND(CAST(dsum AS DOUBLE) / 3.0 / 1e6, {R}) + 0 AS d_pct,
       CAST(CASE WHEN k_e6 > 80000000 THEN 1 ELSE -1 END AS INT) AS zone
FROM d
WHERE cd >= 3 AND (k_e6 > 80000000 OR k_e6 < 20000000)
"""


EXT22_QUERIES["stoch_osc"] = (q_stoch_osc, SQL_STOCH_OSC)

# ---------------------------------------------------------------------------
# obv_trend: on-balance volume summary per region
# ---------------------------------------------------------------------------


def q_obv_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume of regional daily series (price = revenue cents,
    volume = order count): OBV cumulative integer sum, summarized to
    (final, max, min, n_days) per region — is volume confirming the
    revenue trend? (operators/risk.py::obv_trend)."""
    from gridmet_etl_spark.operators.risk import obv_trend

    o = spark.read.parquet(_t(sf_dir, "orders"))
    c = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_regionkey"
    )
    reg = spark.read.parquet(_t(sf_dir, "region"))
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
            F.count(F.lit(1)).cast("long").alias("vol"),
        )
    )
    return obv_trend(daily, ["region"], "day", "cents", "vol")


SQL_OBV_TREND = """
WITH daily AS (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
         CAST(count(*) AS BIGINT) AS vol
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
signed AS (
  SELECT region, day, vol,
         CASE WHEN lag(cents) OVER w IS NULL THEN 0
              WHEN cents > lag(cents) OVER w THEN 1
              WHEN cents < lag(cents) OVER w THEN -1
              ELSE 0 END AS sgn
  FROM daily
  WINDOW w AS (PARTITION BY region ORDER BY day)),
stepped AS (
  SELECT region, day,
         sum(CAST(sgn AS HUGEINT) * vol) OVER wc AS obv
  FROM signed
  WINDOW wc AS (PARTITION BY region ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT region,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(arg_max(obv, day) AS BIGINT) AS obv_final,
       CAST(max(obv) AS BIGINT) AS obv_max,
       CAST(min(obv) AS BIGINT) AS obv_min
FROM stepped GROUP BY region
"""


EXT22_QUERIES["obv_trend"] = (q_obv_trend, SQL_OBV_TREND)
