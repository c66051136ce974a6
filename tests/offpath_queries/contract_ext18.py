"""Round-8 wave-6 contract entries: Cliff's delta ordinal effect size,
the 2×2 odds-ratio/relative-risk summary with Wald CI, Kaplan–Meier
median survival, and Hyndman seasonal/trend strength.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline: Cliff's dominance counts come from the value histogram with
one cumulative window (exact DECIMAL integers — no pair join); the 2×2
cells are exact integers with a shared z-constant literal; the KM median
picks the first event time at S(t) ≤ 0.5 on the SAME rounded curve the
certified kaplan_meier query emits; seasonal strength recovers exact e6
integers from the decomposition's rounded columns before any moment sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t
from .contract_ext7 import _RKM

EXT18_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# cliffs_delta: how often does a returned line out-quantity a kept one
# ---------------------------------------------------------------------------


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between kept and returned line-item quantities —
    the ordinal effect size next to cramer_von_mises' distance and
    mann_whitney's test on the same comparison; groups sort
    'kept' < 'ret' so δ > 0 means kept lines dominate
    (operators/stats.py::cliffs_delta)."""
    from gridmet_etl_spark.operators.stats import cliffs_delta

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.when(F.col("l_returnflag") == "R", F.lit("ret"))
        .otherwise(F.lit("kept"))
        .alias("grp"),
    )
    return cliffs_delta(li, "qty", "grp")


SQL_CLIFFS_DELTA = f"""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 'ret' ELSE 'kept' END AS g
  FROM lineitem),
per_v AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN g = 'ret' THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM v GROUP BY v),
cum AS (
  SELECT v, a, b,
         COALESCE(sum(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS bless
  FROM per_v),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m
        FROM per_v),
acc AS (
  SELECT sum(CAST(a AS HUGEINT) * bless) AS gt,
         sum(CAST(a AS HUGEINT) * (m - bless - b)) AS lt,
         sum(CAST(a AS HUGEINT) * b) AS eq,
         any_value(n) AS n, any_value(m) AS m
  FROM cum, tot),
fin AS (
  SELECT n, m, gt, lt, eq,
         CASE WHEN CAST(n AS DOUBLE) * CAST(m AS DOUBLE) <= 0.0 THEN 0.0
              ELSE (CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) END AS delta
  FROM acc)
SELECT n, m,
       CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
       CAST(eq AS BIGINT) AS n_eq,
       ROUND(delta, {R}) + 0 AS delta,
       CASE WHEN abs(delta) < 0.147 THEN 'negligible'
            WHEN abs(delta) < 0.33 THEN 'small'
            WHEN abs(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM fin
"""


EXT18_QUERIES["cliffs_delta"] = (q_cliffs_delta, SQL_CLIFFS_DELTA)

# ---------------------------------------------------------------------------
# odds_ratio: deep discount vs return, with a CI
# ---------------------------------------------------------------------------


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio (Wald 95% CI) and relative risk of a line being
    returned given a deep discount (> 0.05) — the strength-with-CI
    companion to chi_square on the same 2×2
    (operators/stats.py::odds_ratio)."""
    from gridmet_etl_spark.operators.stats import odds_ratio

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_discount") > 0.05).cast("int").alias("deep"),
        (F.col("l_returnflag") == "R").cast("int").alias("ret"),
    )
    return odds_ratio(li, "deep", "ret")


SQL_ODDS_RATIO = f"""
WITH cells AS (
  SELECT
    CAST(count(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
               THEN 1 END) AS BIGINT) AS a,
    CAST(count(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R'
               THEN 1 END) AS BIGINT) AS b,
    CAST(count(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
               THEN 1 END) AS BIGINT) AS c,
    CAST(count(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R'
               THEN 1 END) AS BIGINT) AS d
  FROM lineitem),
est AS (
  SELECT a, b, c, d,
         (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
           / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orr,
         sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
              + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se,
         (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
           / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))
           AS rr,
         (a = 0 OR b = 0 OR c = 0 OR d = 0) AS zero
  FROM cells)
SELECT a, b, c, d,
       CASE WHEN zero THEN NULL
            ELSE ROUND(orr, {R}) + 0 END AS odds_ratio,
       CASE WHEN zero THEN NULL
            ELSE ROUND(exp(ln(orr) - 1.959963984540054 * se), {R}) + 0
            END AS or_ci_lo,
       CASE WHEN zero THEN NULL
            ELSE ROUND(exp(ln(orr) + 1.959963984540054 * se), {R}) + 0
            END AS or_ci_hi,
       CASE WHEN zero THEN NULL
            ELSE ROUND(rr, {R}) + 0 END AS relative_risk
FROM est
"""


EXT18_QUERIES["odds_ratio"] = (q_odds_ratio, SQL_ODDS_RATIO)

# ---------------------------------------------------------------------------
# km_median: the quoted one-number survival summary per priority
# ---------------------------------------------------------------------------


def q_km_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median survival time per order priority from the SAME certified
    Kaplan–Meier cohort (orderkey-derived durations, ~25% censored):
    first event time with S(t) ≤ 0.5, NULL when the curve never crosses
    (operators/stats.py::km_median_survival)."""
    from gridmet_etl_spark.operators.stats import km_median_survival

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 60 + 1).alias("dur"),
        (F.col("o_orderkey") % 4 != 0).cast("int").alias("ev"),
    )
    return km_median_survival(o, ["grp"], "dur", "ev", km_digits=_RKM)


SQL_KM_MEDIAN = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(o_orderkey % 60 + 1 AS BIGINT) AS t,
         CAST(o_orderkey % 4 <> 0 AS INT) AS e
  FROM orders),
per_t AS (
  SELECT grp, t, sum(e) AS d, count(*) AS lv
  FROM base GROUP BY grp, t),
cum AS (
  SELECT grp, t, d,
         sum(lv) OVER (PARTITION BY grp)
           - COALESCE(sum(lv) OVER (PARTITION BY grp ORDER BY t
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS n
  FROM per_t),
surv AS (
  SELECT grp, t, d, n,
         exp(sum(ln(greatest(1.0 - CAST(d AS DOUBLE) / n, 1e-300)))
             OVER (PARTITION BY grp ORDER BY t
                   ROWS UNBOUNDED PRECEDING)) AS s
  FROM cum),
km AS (
  SELECT grp, t, ROUND(s, {_RKM}) + 0.0 AS surv
  FROM surv WHERE d > 0)
SELECT grp,
       min(CASE WHEN surv <= 0.5 THEN t END) AS median_t,
       min_by(surv, -t) AS final_surv,
       CAST(count(*) AS BIGINT) AS n_event_times
FROM km GROUP BY grp
"""


EXT18_QUERIES["km_median"] = (q_km_median, SQL_KM_MEDIAN)

# ---------------------------------------------------------------------------
# seasonal_strength: did the decomposition actually find structure
# ---------------------------------------------------------------------------


def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonal/trend strength of each event type's daily-count
    decomposition (the certified seasonal_decomp pipeline) — exact e6
    integers recovered from the rounded components before any moment
    sum (operators/timeseries.py::seasonal_strength)."""
    from gridmet_etl_spark.operators.timeseries import seasonal_decompose, seasonal_strength
    from gridmet_etl_spark.sources.readers import read_events

    e = read_events(spark, _t(sf_dir, "events"))
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    dec = seasonal_decompose(daily, ["event_type"], "day", "n", period=7)
    return seasonal_strength(dec, ["event_type"])


SQL_SEASONAL_STRENGTH = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
t AS (
  SELECT event_type, day, v,
         avg(v) OVER w AS trend, count(*) OVER w AS cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
f AS (
  SELECT event_type, day, v, trend, v - trend AS det,
         CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS phase
  FROM t WHERE cnt = 7),
s AS (SELECT event_type, phase, avg(det) AS seasonal
      FROM f GROUP BY event_type, phase),
comp AS (
  SELECT f.event_type,
         CAST(round((ROUND(det - seasonal, {R}) + 0.0) * 1e6) AS BIGINT)
           AS r,
         CAST(round((ROUND(seasonal, {R}) + 0.0) * 1e6) AS BIGINT)
           + CAST(round((ROUND(det - seasonal, {R}) + 0.0) * 1e6) AS BIGINT)
           AS sr,
         CAST(round(ROUND(trend, {R}) * 1e6) AS BIGINT)
           + CAST(round((ROUND(det - seasonal, {R}) + 0.0) * 1e6) AS BIGINT)
           AS tr
  FROM f JOIN s ON f.event_type = s.event_type AND f.phase = s.phase),
acc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(r AS HUGEINT)) AS s_r,
         sum(CAST(r AS HUGEINT) * r) AS q_r,
         sum(CAST(sr AS HUGEINT)) AS s_sr,
         sum(CAST(sr AS HUGEINT) * sr) AS q_sr,
         sum(CAST(tr AS HUGEINT)) AS s_tr,
         sum(CAST(tr AS HUGEINT) * tr) AS q_tr
  FROM comp GROUP BY event_type),
vr AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) * CAST(q_r AS DOUBLE)
           - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) AS v_r,
         CAST(n AS DOUBLE) * CAST(q_sr AS DOUBLE)
           - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE) AS v_sr,
         CAST(n AS DOUBLE) * CAST(q_tr AS DOUBLE)
           - CAST(s_tr AS DOUBLE) * CAST(s_tr AS DOUBLE) AS v_tr
  FROM acc)
SELECT event_type, n,
       ROUND(CASE WHEN v_sr <= 0.0 THEN 0.0
             ELSE greatest(0.0, 1.0 - v_r / v_sr) END, {R}) + 0
         AS f_seasonal,
       ROUND(CASE WHEN v_tr <= 0.0 THEN 0.0
             ELSE greatest(0.0, 1.0 - v_r / v_tr) END, {R}) + 0 AS f_trend
FROM vr
"""


EXT18_QUERIES["seasonal_strength"] = (q_seasonal_strength, SQL_SEASONAL_STRENGTH)
