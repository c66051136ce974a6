"""Round-9 wave-12 contract entries: two exact anomaly/changepoint
detectors on the daily order series — iterative leave-out Grubbs
(the generalized-ESD mechanic, masking-proof where one Grubbs pass
isn't) and offline binary-segmentation changepoint (the Σx² terms
cancel, so every candidate split scores from ONE prefix-sum pass).

Discipline: argmax decisions are exact DECIMAL |n·x − S| (ESD) or
identical-double gains with day tiebreaks (binseg); moments recompute on
the remaining relation each round (exact subtraction); studentized/gain
readouts are fixed-order doubles. The ESD oracle is a generated 5-level
chained-CTE pipeline (the bpe/kmeans unrolled-round precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT31_QUERIES: dict = {}

_ESD_K = 5

_SQL_DAILY = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1)
"""

# ---------------------------------------------------------------------------
# esd_outliers: k most extreme days with leave-out recomputation
# ---------------------------------------------------------------------------


def q_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five leave-out Grubbs rounds on the daily order count — flag,
    remove, recompute (operators/timeseries.py::esd_outliers)."""
    from gridmet_etl_spark.operators.timeseries import esd_outliers

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    return esd_outliers(daily, "day", "v", k=_ESD_K)


def _sql_esd_outliers() -> str:
    parts = [f"WITH {_SQL_DAILY}", ", r0 AS (SELECT day, v FROM daily)"]
    stud = (
        "ROUND(CASE WHEN n < 3 OR sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) = 0.0 THEN 0.0"
        " ELSE CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE)"
        " * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) END,"
        f" {R}) + 0"
    )
    for i in range(1, _ESD_K + 1):
        p = i - 1
        parts.append(f""",
a{i} AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(v AS HUGEINT)) AS s,
         sum(CAST(v AS HUGEINT) * v) AS q
  FROM r{p}),
p{i} AS (
  SELECT day, v, n, s, q,
         abs(CAST(n AS HUGEINT) * v - s) AS dev,
         row_number() OVER (ORDER BY abs(CAST(n AS HUGEINT) * v - s) DESC,
                            v ASC, day ASC) AS rn
  FROM r{p}, a{i}),
o{i} AS (
  SELECT CAST({i} AS INT) AS step, day, v AS value, n AS n_at_step,
         {stud} AS studentized
  FROM p{i} WHERE rn = 1),
r{i} AS (
  SELECT day, v FROM r{p}
  WHERE day NOT IN (SELECT day FROM o{i}))""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM o{i}" for i in range(1, _ESD_K + 1)
    )
    return "".join(parts) + "\n" + union


EXT31_QUERIES["esd_outliers"] = (q_esd_outliers, _sql_esd_outliers())

# ---------------------------------------------------------------------------
# binseg_split: the single best changepoint of the daily series
# ---------------------------------------------------------------------------


def q_binseg_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact offline changepoint of the daily order count by binary
    segmentation (operators/timeseries.py::binseg_split)."""
    from gridmet_etl_spark.operators.timeseries import binseg_split

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    return binseg_split(daily, "day", "v", min_seg=5)


SQL_BINSEG_SPLIT = f"""
WITH {_SQL_DAILY},
stepped AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
         sum(CAST(v AS HUGEINT)) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
  FROM daily),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(v AS HUGEINT)) AS s
  FROM daily),
cand AS (
  SELECT day, rn, sl, n, s,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(rn AS DOUBLE)
           + CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE)
             / CAST(n - rn AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           AS gain
  FROM stepped, tot
  WHERE rn >= 5 AND rn <= n - 5),
best AS (
  SELECT day, rn, sl, n, s, gain,
         row_number() OVER (ORDER BY gain DESC, day ASC) AS k
  FROM cand)
SELECT day AS split_day, rn AS n_left, CAST(n - rn AS BIGINT) AS n_right,
       ROUND(CAST(sl AS DOUBLE) / CAST(rn AS DOUBLE), {R}) + 0 AS mean_left,
       ROUND(CAST(s - sl AS DOUBLE) / CAST(n - rn AS DOUBLE), {R}) + 0
         AS mean_right,
       ROUND(gain, {R}) + 0 AS gain
FROM best WHERE k = 1
"""


EXT31_QUERIES["binseg_split"] = (q_binseg_split, SQL_BINSEG_SPLIT)
