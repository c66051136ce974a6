"""Round-9 wave-13 contract entries: quantile treatment effects (the
distributional view the causal family's mean effects — CUPED/IPW/DiD —
can't see) and Apriori brand triples (the 3-itemset step above
basket_lift's pairs, with the candidate space bounded by the brand
alphabet).

Discipline: quantiles are exact order statistics via the two-level
bucket plan (operators/stats.exact_quantiles — no global sort); itemset
supports are exact counts with TakeOrdered picks; lifts are single
divisions of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT32_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# qte_quartiles: distributional effect of a deep discount
# ---------------------------------------------------------------------------

_QTE_TAUS = (0.25, 0.5, 0.75)


def q_qte_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects of a deep discount (≥ 5%) on line-item
    value: per-arm exact quartiles via the two-level bucket order
    statistic, QTE = q_treat(τ) − q_ctrl(τ) — does the discount shift the
    whole distribution or just the tail? (The mean-effect estimators
    average this away.)"""
    from gridmet_etl_spark.operators.stats import exact_quantiles

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        (F.col("l_discount") >= 0.05).alias("_treat"),
    )
    qt = exact_quantiles(li.filter(F.col("_treat")), "cents", _QTE_TAUS)
    qc = exact_quantiles(li.filter(~F.col("_treat")), "cents", _QTE_TAUS)
    j = qt.select("tau", F.col("value").alias("_vt")).join(
        qc.select("tau", F.col("value").alias("_vc")), "tau"
    )
    rnd = lambda c: F.round(c, R) + F.lit(0.0)  # noqa: E731
    return j.select(
        "tau",
        rnd(F.col("_vt").cast("double") / 100.0).alias("q_treat"),
        rnd(F.col("_vc").cast("double") / 100.0).alias("q_ctrl"),
        rnd((F.col("_vt") - F.col("_vc")).cast("double") / 100.0).alias("qte"),
    )


SQL_QTE_QUARTILES = f"""
WITH src AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         l_discount >= 0.05 AS treat
  FROM lineitem),
taus AS (SELECT * FROM (VALUES (0.25), (0.5), (0.75)) AS t(tau)),
qt AS (
  SELECT taus.tau, min(v.cents) AS v
  FROM taus, (
    SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
           count(*) OVER () AS n
    FROM src WHERE treat) v
  WHERE v.rn >= CAST(ceil(CAST(v.n AS DOUBLE) * taus.tau) AS BIGINT)
  GROUP BY taus.tau),
qc AS (
  SELECT taus.tau, min(v.cents) AS v
  FROM taus, (
    SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
           count(*) OVER () AS n
    FROM src WHERE NOT treat) v
  WHERE v.rn >= CAST(ceil(CAST(v.n AS DOUBLE) * taus.tau) AS BIGINT)
  GROUP BY taus.tau)
SELECT CAST(qt.tau AS DOUBLE) AS tau,
       ROUND(CAST(qt.v AS DOUBLE) / 100.0, {R}) + 0 AS q_treat,
       ROUND(CAST(qc.v AS DOUBLE) / 100.0, {R}) + 0 AS q_ctrl,
       ROUND(CAST(qt.v - qc.v AS DOUBLE) / 100.0, {R}) + 0 AS qte
FROM qt JOIN qc ON qt.tau = qc.tau
"""


EXT32_QUERIES["qte_quartiles"] = (q_qte_quartiles, SQL_QTE_QUARTILES)

# ---------------------------------------------------------------------------
# apriori_triples: top 3-brand itemsets with support and lift
# ---------------------------------------------------------------------------


def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-brand itemsets by exact basket support, with lift against
    brand independence — the Apriori step above basket_lift's pairs. The
    per-basket candidate space is C(|distinct brands in basket|, 3),
    bounded by the 25-brand alphabet (C(25,3) = 2300 worst case — never
    row-quadratic); supports are one triple-keyed count; lift divides
    exact integers."""
    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey"
    )
    part = spark.read.parquet(_t(sf_dir, "part")).select(
        "p_partkey", "p_brand"
    )
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n_orders = ob.select("o").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    singles = ob.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("s1"))
    a = ob.select("o", F.col("b").alias("b1"))
    b2 = ob.select("o", F.col("b").alias("b2"))
    c = ob.select("o", F.col("b").alias("b3"))
    triples = (
        a.join(b2, "o")
        .filter(F.col("b1") < F.col("b2"))
        .join(c, "o")
        .filter(F.col("b2") < F.col("b3"))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    top = triples.orderBy(
        F.col("support").desc(), "b1", "b2", "b3"
    ).limit(10)
    jt = (
        top.join(F.broadcast(singles.withColumnRenamed("b", "b1").withColumnRenamed("s1", "n1")), "b1")
        .join(F.broadcast(singles.withColumnRenamed("b", "b2").withColumnRenamed("s1", "n2")), "b2")
        .join(F.broadcast(singles.withColumnRenamed("b", "b3").withColumnRenamed("s1", "n3")), "b3")
        .crossJoin(F.broadcast(n_orders))
    )
    no = F.col("n_orders").cast("double")
    lift = (
        F.col("support").cast("double") * no * no
        / (
            F.col("n1").cast("double")
            * F.col("n2").cast("double")
            * F.col("n3").cast("double")
        )
    )
    rnd = lambda col: F.round(col, R) + F.lit(0.0)  # noqa: E731
    return jt.select(
        "b1",
        "b2",
        "b3",
        "support",
        rnd(F.col("support").cast("double") / no).alias("support_frac"),
        rnd(lift).alias("lift"),
    )


SQL_APRIORI_TRIPLES = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n_orders AS (
  SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM ob),
singles AS (SELECT b, CAST(count(*) AS BIGINT) AS s1 FROM ob GROUP BY b),
triples AS (
  SELECT a.b AS b1, c.b AS b2, d.b AS b3,
         CAST(count(*) AS BIGINT) AS support
  FROM ob a, ob c, ob d
  WHERE c.o = a.o AND d.o = a.o AND a.b < c.b AND c.b < d.b
  GROUP BY 1, 2, 3),
top AS (
  SELECT b1, b2, b3, support,
         row_number() OVER (ORDER BY support DESC, b1, b2, b3) AS rk
  FROM triples)
SELECT t.b1, t.b2, t.b3, t.support,
       ROUND(CAST(t.support AS DOUBLE) / CAST(n.n AS DOUBLE), {R}) + 0
         AS support_frac,
       ROUND(CAST(t.support AS DOUBLE) * CAST(n.n AS DOUBLE)
             * CAST(n.n AS DOUBLE)
             / (CAST(s1.s1 AS DOUBLE) * CAST(s2.s1 AS DOUBLE)
                * CAST(s3.s1 AS DOUBLE)), {R}) + 0 AS lift
FROM top t
JOIN singles s1 ON s1.b = t.b1
JOIN singles s2 ON s2.b = t.b2
JOIN singles s3 ON s3.b = t.b3, n_orders n
WHERE t.rk <= 10
"""


EXT32_QUERIES["apriori_triples"] = (q_apriori_triples, SQL_APRIORI_TRIPLES)
