"""Round-9 wave-5 contract entries: four inference completions around the
existing rank/effect-size family — Dunn's post-hoc pairwise z (which
pairs differ once kruskal_wallis rejects), Kendall's W (inter-rater
concordance on rankings, fleiss_kappa's ordinal counterpart),
Cochran–Armitage (the dose-response trend gate chi_square misses), and
Cohen's d / Hedges' g (the N-free "how different" companion to
welch_ttest).

Discipline (the stats.py conventions): tie-averaged ranks as exact 2·r̄
integers; every squared deviation accumulates DECIMAL(38,0)/HUGEINT;
each published float is one fixed-operand-order double expression of
exact integers; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT24_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# dunn_pairs: post-hoc pairwise z between returnflag groups
# ---------------------------------------------------------------------------


def q_dunn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc z for every returnflag pair on line-item value
    cents — the pairwise drill-down after kruskal_wallis's omnibus H,
    same global tie-averaged integer ranks
    (operators/stats.py::dunn_posthoc)."""
    from gridmet_etl_spark.operators.stats import dunn_posthoc

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_returnflag",
    )
    return dunn_posthoc(li, "cents", "l_returnflag")


SQL_DUNN_PAIRS = f"""
WITH v AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem),
ranked AS (
  SELECT grp,
         2 * rank() OVER (ORDER BY x)
           + count(*) OVER (PARTITION BY x) - 1 AS r2
  FROM v),
per_g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g, sum(CAST(r2 AS HUGEINT)) AS s2
  FROM ranked GROUP BY grp),
tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM per_g),
ties AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM v GROUP BY x)),
pairs AS (
  SELECT a.grp AS g1, b.grp AS g2, a.n_g AS n1, b.n_g AS n2,
         a.s2 AS s21, b.s2 AS s22, tot.n, ties.tie3
  FROM per_g a, per_g b, tot, ties
  WHERE a.grp < b.grp),
fin AS (
  SELECT g1, g2, n1, n2, n,
         CAST(s21 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS r1,
         CAST(s22 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS r2m,
         sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
               - CAST(tie3 AS DOUBLE) / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
           AS den
  FROM pairs)
SELECT g1, g2, n1, n2,
       ROUND(r1, {R}) + 0 AS mean_rank_1,
       ROUND(r2m, {R}) + 0 AS mean_rank_2,
       ROUND(CASE WHEN n < 2 OR den = 0.0 THEN 0.0
             ELSE (r1 - r2m) / den END, {R}) + 0 AS z_dunn
FROM fin
"""


EXT24_QUERIES["dunn_pairs"] = (q_dunn_pairs, SQL_DUNN_PAIRS)

# ---------------------------------------------------------------------------
# kendall_w: do months agree on the priority revenue ranking?
# ---------------------------------------------------------------------------


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance: months as raters ranking the five order
    priorities by monthly revenue cents — stable business mix ⇒ W → 1,
    noise ⇒ W → 0. Only complete months (all priorities present) rate
    (operators/stats.py::kendall_w)."""
    from gridmet_etl_spark.operators.stats import kendall_w

    o = spark.read.parquet(_t(sf_dir, "orders"))
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("mo"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "cents"
        )
    )
    n_items = monthly.select("pri").distinct().agg(
        F.count(F.lit(1)).alias("_k")
    )
    complete = (
        monthly.groupBy("mo")
        .agg(F.count(F.lit(1)).alias("_c"))
        .crossJoin(F.broadcast(n_items))
        .filter(F.col("_c") == F.col("_k"))
        .select("mo")
    )
    rated = monthly.join(complete, "mo")
    return kendall_w(rated, "mo", "pri", "cents")


SQL_KENDALL_W = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         o_orderpriority AS pri,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2),
kk AS (SELECT CAST(count(DISTINCT pri) AS BIGINT) AS k FROM monthly),
complete AS (
  SELECT mo FROM monthly, kk GROUP BY mo, k HAVING count(*) = k),
rated AS (
  SELECT m.mo, m.pri, m.cents FROM monthly m JOIN complete c ON m.mo = c.mo),
ranked AS (
  SELECT mo, pri,
         2 * rank() OVER (PARTITION BY mo ORDER BY cents)
           + count(*) OVER (PARTITION BY mo, cents) - 1 AS r2
  FROM rated),
per_item AS (
  SELECT pri, CAST(count(*) AS BIGINT) AS m, sum(CAST(r2 AS HUGEINT)) AS s2
  FROM ranked GROUP BY pri),
dims AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m
  FROM per_item),
ties AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM rated GROUP BY mo, cents)),
acc AS (
  SELECT dims.n, dims.m,
         sum((per_item.s2 - dims.m * (dims.n + 1))
             * (per_item.s2 - dims.m * (dims.n + 1))) AS s4
  FROM per_item, dims GROUP BY dims.n, dims.m),
fin AS (
  SELECT n, m, s4, tie3,
         CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
           * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE))
           - CAST(m AS DOUBLE) * CAST(tie3 AS DOUBLE) AS den
  FROM acc, ties)
SELECT m, n,
       ROUND(CASE WHEN den = 0.0 THEN 0.0
             ELSE 3.0 * CAST(s4 AS DOUBLE) / den END, {R}) + 0 AS w,
       ROUND(CAST(m AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
             * (CASE WHEN den = 0.0 THEN 0.0
                ELSE 3.0 * CAST(s4 AS DOUBLE) / den END), {R}) + 0 AS chi2,
       CAST(n - 1 AS INT) AS dof
FROM fin
"""


EXT24_QUERIES["kendall_w"] = (q_kendall_w, SQL_KENDALL_W)

# ---------------------------------------------------------------------------
# ca_trend: does fill rate trend across the ordered priority scale?
# ---------------------------------------------------------------------------


def q_ca_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend of order fulfillment (status = 'F') across
    the ordered priority scale (1-URGENT … 5-LOW, score = leading
    digit) — the monotone dose-response readout
    (operators/stats.py::cochran_armitage)."""
    from gridmet_etl_spark.operators.stats import cochran_armitage

    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("score"),
        (F.col("o_orderstatus") == "F").cast("long").alias("filled"),
    )
    return cochran_armitage(o, "score", "filled")


SQL_CA_TREND = f"""
WITH src AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
per AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS r
  FROM src GROUP BY s),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(r) AS BIGINT) AS n_success,
         sum(CAST(s AS HUGEINT) * r) AS ssr,
         sum(CAST(s AS HUGEINT) * n) AS ssn,
         sum(CAST(s AS HUGEINT) * s * n) AS ss2n
  FROM per),
fin AS (
  SELECT k, n, n_success,
         CAST(n AS DOUBLE) * CAST(ssr AS DOUBLE)
           - CAST(n_success AS DOUBLE) * CAST(ssn AS DOUBLE) AS num,
         CAST(n_success AS DOUBLE)
           * (CAST(n AS DOUBLE) - CAST(n_success AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(ss2n AS DOUBLE)
              - CAST(ssn AS DOUBLE) * CAST(ssn AS DOUBLE)) AS den
  FROM acc)
SELECT CAST(k AS INT) AS k, n, n_success,
       ROUND(CASE WHEN den = 0.0 THEN 0.0
             ELSE CAST(n AS DOUBLE) * num * num / den END, {R}) + 0
         AS chi2_trend,
       ROUND(CASE WHEN den = 0.0 THEN 0.0
             ELSE sign(num)
                  * sqrt(CAST(n AS DOUBLE) * num * num / den) END,
             {R}) + 0 AS z
FROM fin
"""


EXT24_QUERIES["ca_trend"] = (q_ca_trend, SQL_CA_TREND)

# ---------------------------------------------------------------------------
# cohens_d: effect size of returned vs delivered line-item value
# ---------------------------------------------------------------------------


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g between returned ('R') and delivered ('N')
    line-item value cents — the N-free effect-size companion to
    welch_ttest (operators/stats.py::cohens_d)."""
    from gridmet_etl_spark.operators.stats import cohens_d

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_returnflag",
    )
    return cohens_d(li, "cents", "l_returnflag", "R", "N")


SQL_COHENS_D = f"""
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
acc AS (
  SELECT
    CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    sum(CASE WHEN g = 'R' THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1,
    sum(CASE WHEN g = 'N' THEN CAST(x AS HUGEINT) ELSE 0 END) AS s2,
    sum(CASE WHEN g = 'R' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q1,
    sum(CASE WHEN g = 'N' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q2
  FROM v),
fin AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         ((CAST(n1 AS DOUBLE) - 1.0)
            * ((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
          + (CAST(n2 AS DOUBLE) - 1.0)
            * ((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
               / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0))))
         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) AS sp2
  FROM acc),
dd AS (
  SELECT n1, n2, m1, m2,
         CASE WHEN n1 < 2 OR n2 < 2 OR sp2 <= 0.0 THEN 0.0
              ELSE (m1 - m2) / sqrt(sp2) END AS d
  FROM fin)
SELECT n1, n2,
       ROUND(m1, {R}) + 0 AS mean1,
       ROUND(m2, {R}) + 0 AS mean2,
       ROUND(d, {R}) + 0 AS d,
       ROUND(d * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE)) - 9.0)),
             {R}) + 0 AS hedges_g
FROM dd
"""


EXT24_QUERIES["cohens_d"] = (q_cohens_d, SQL_COHENS_D)
