"""Round-9 wave-10 contract entries: the inequality family around the
existing gini_lorenz — Theil T with the exact within/between-region
decomposition (the index that adds up), Atkinson ε=1 (welfare-weighted),
and the Palma ratio (tail-focused, via the distributed global rank).
All three read the same member grain: revenue cents per customer.

Discipline: member terms with transcendentals (ln) are e12-quantized
into DECIMAL(38,0) sums BEFORE any cross-row accumulation; decile cuts
are exact integer thresholds; shares are exact cent sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT29_QUERIES: dict = {}


def _customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    c = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(_t(sf_dir, "nation")).select(
        "n_nationkey", "n_regionkey"
    )
    reg = spark.read.parquet(_t(sf_dir, "region"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("r_name").alias("region"),
            "cents",
        )
    )


_SQL_CUST_REV = """
rev AS (
  SELECT o_custkey AS custkey, r_name AS region,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
"""

# ---------------------------------------------------------------------------
# theil_index: revenue inequality decomposed within/between regions
# ---------------------------------------------------------------------------


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T of customer revenue with the within/between-region
    decomposition (operators/stats.py::theil_decomposition)."""
    from gridmet_etl_spark.operators.stats import theil_decomposition

    rev = _customer_revenue(spark, sf_dir)
    return theil_decomposition(rev, "cents", "region")


SQL_THEIL_INDEX = f"""
WITH {_SQL_CUST_REV},
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(cents AS HUGEINT)) AS s
  FROM rev WHERE cents > 0),
tq AS (
  SELECT sum(CAST(round((CAST(cents AS DOUBLE)
                         / (CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE)))
                        * ln(CAST(cents AS DOUBLE)
                             / (CAST(tot.s AS DOUBLE)
                                / CAST(tot.n AS DOUBLE)))
                        * 1e12) AS HUGEINT)) AS q,
         min(tot.n) AS n
  FROM rev, tot WHERE cents > 0),
per_g AS (
  SELECT region, CAST(count(*) AS BIGINT) AS ng,
         sum(CAST(cents AS HUGEINT)) AS sg
  FROM rev WHERE cents > 0 GROUP BY region),
bt AS (
  SELECT sum(CAST(round((CAST(sg AS DOUBLE) / CAST(tot.s AS DOUBLE))
                        * ln((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                             / (CAST(tot.s AS DOUBLE)
                                / CAST(tot.n AS DOUBLE)))
                        * 1e12) AS HUGEINT)) AS bq,
         CAST(count(*) AS BIGINT) AS k_groups
  FROM per_g, tot)
SELECT tq.n,
       bt.k_groups,
       ROUND(CAST(tq.q AS DOUBLE) / 1e12 / CAST(tq.n AS DOUBLE), {R}) + 0
         AS theil_total,
       ROUND(CAST(bt.bq AS DOUBLE) / 1e12, {R}) + 0 AS theil_between,
       ROUND(CAST(tq.q AS DOUBLE) / 1e12 / CAST(tq.n AS DOUBLE)
             - CAST(bt.bq AS DOUBLE) / 1e12, {R}) + 0 AS theil_within
FROM tq, bt
"""


EXT29_QUERIES["theil_index"] = (q_theil_index, SQL_THEIL_INDEX)

# ---------------------------------------------------------------------------
# atkinson_index: welfare-weighted revenue inequality
# ---------------------------------------------------------------------------


def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson ε=1 of customer revenue
    (operators/stats.py::atkinson_index)."""
    from gridmet_etl_spark.operators.stats import atkinson_index

    rev = _customer_revenue(spark, sf_dir)
    return atkinson_index(rev, "cents")


SQL_ATKINSON_INDEX = f"""
WITH {_SQL_CUST_REV},
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cents AS HUGEINT)) AS s,
         sum(CAST(round(ln(CAST(cents AS DOUBLE)) * 1e12) AS HUGEINT)) AS lq
  FROM rev WHERE cents > 0),
fin AS (
  SELECT n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         exp(CAST(lq AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)) AS geo
  FROM acc)
SELECT n,
       ROUND(mean, {R}) + 0 AS mean,
       ROUND(geo, {R}) + 0 AS geomean,
       ROUND(1.0 - geo / mean, {R}) + 0 AS atkinson
FROM fin
"""


EXT29_QUERIES["atkinson_index"] = (q_atkinson_index, SQL_ATKINSON_INDEX)

# ---------------------------------------------------------------------------
# palma_ratio: top-10% / bottom-40% revenue shares
# ---------------------------------------------------------------------------


def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio of customer revenue — distributed global rank, exact
    integer decile cuts (operators/stats.py::palma_ratio)."""
    from gridmet_etl_spark.operators.stats import palma_ratio

    rev = _customer_revenue(spark, sf_dir)
    return palma_ratio(rev, "cents", "custkey")


SQL_PALMA_RATIO = f"""
WITH {_SQL_CUST_REV},
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, custkey) AS rn
  FROM rev),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(cents AS HUGEINT)) AS s
  FROM ranked),
acc AS (
  SELECT min(tot.n) AS n, min(tot.s) AS s,
         sum(CASE WHEN rn <= (tot.n * 4 - (tot.n * 4) % 10) / 10
                  THEN CAST(cents AS HUGEINT) ELSE 0 END) AS b40,
         sum(CASE WHEN rn > tot.n - (tot.n - tot.n % 10) / 10
                  THEN CAST(cents AS HUGEINT) ELSE 0 END) AS t10
  FROM ranked, tot)
SELECT n,
       ROUND(CAST(b40 AS DOUBLE) / CAST(s AS DOUBLE), {R}) + 0
         AS bottom40_share,
       ROUND(CAST(t10 AS DOUBLE) / CAST(s AS DOUBLE), {R}) + 0
         AS top10_share,
       ROUND(CASE WHEN b40 = 0 THEN 0.0
             ELSE CAST(t10 AS DOUBLE) / CAST(b40 AS DOUBLE) END, {R}) + 0
         AS palma
FROM acc
"""


EXT29_QUERIES["palma_ratio"] = (q_palma_ratio, SQL_PALMA_RATIO)
