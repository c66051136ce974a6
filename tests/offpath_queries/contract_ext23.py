"""Round-9 wave-4 contract entries: the privacy/profiling release-gate
family completing ext10's k_anonymity — t-closeness (the attribute-
disclosure EMD k-anonymity and l-diversity both miss), re-identification
risk scalars (prosecutor/journalist attacker models), and candidate-key
uniqueness audits (the profiling pass CDC-merge key selection starts
from; the reference's (fid, date) weights natural key, etl.py, is
exactly such an audited pair).

Discipline: the EMD accumulates EXACTLY — integer cumulative counts,
|cumP·N − cumQ·n| as DECIMAL(38,0)/HUGEINT, one double division per
class; every other statistic is exact counts plus a final division;
booleans publish as INT (pandas-dtype parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT23_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# t_closeness: EMD of each QI class's balance-band mix vs the global mix
# ---------------------------------------------------------------------------


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness of every (nation, market segment) class over the
    ordered account-balance band — exact-integer earth-mover's distance,
    the release gate that catches classes skewed toward one end of the
    sensitive range even when k-anonymity and l-diversity hold
    (operators/mlprep.py::t_closeness_report)."""
    from gridmet_etl_spark.operators.mlprep import t_closeness_report

    cust = spark.read.parquet(_t(sf_dir, "customer"))
    rel = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_band"),
    )
    return t_closeness_report(rel, ["c_nationkey", "c_mktsegment"], "bal_band")


SQL_T_CLOSENESS = f"""
WITH rel AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS INT) AS b
  FROM customer),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
         CAST(count(DISTINCT b) AS BIGINT) AS k
  FROM rel),
gl AS (SELECT b, count(*) AS g FROM rel GROUP BY b),
glc AS (SELECT b, CAST(sum(g) OVER (ORDER BY b) AS BIGINT) AS cumq FROM gl),
cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM rel GROUP BY 1, 2),
cb AS (
  SELECT c_nationkey, c_mktsegment, b, CAST(count(*) AS BIGINT) AS c
  FROM rel GROUP BY 1, 2, 3),
dense AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n, glc.b, glc.cumq,
         coalesce(cb.c, 0) AS c
  FROM cls CROSS JOIN glc
  LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
              AND cb.c_mktsegment = cls.c_mktsegment AND cb.b = glc.b),
stepped AS (
  SELECT c_nationkey, c_mktsegment, n, cumq,
         CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY b) AS BIGINT) AS cump
  FROM dense),
acc AS (
  SELECT c_nationkey, c_mktsegment, min(n) AS n,
         sum(abs(CAST(cump AS HUGEINT) * (SELECT nn FROM tot)
                 - CAST(cumq AS HUGEINT) * n)) AS ts
  FROM stepped GROUP BY 1, 2)
SELECT c_nationkey, c_mktsegment, n,
       ROUND(CASE WHEN (SELECT k FROM tot) < 2 THEN 0.0
             ELSE CAST(ts AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST((SELECT nn FROM tot) AS DOUBLE)
                     * (CAST((SELECT k FROM tot) AS DOUBLE) - 1.0)) END,
             {R}) + 0 AS t_closeness
FROM acc
"""


EXT23_QUERIES["t_closeness"] = (q_t_closeness, SQL_T_CLOSENESS)

# ---------------------------------------------------------------------------
# candidate_keys: uniqueness audit over enumerated lineitem combos
# ---------------------------------------------------------------------------

_CK_COMBOS = [
    ["l_orderkey"],
    ["l_orderkey", "l_linenumber"],
    ["l_partkey", "l_suppkey"],
    ["l_orderkey", "l_linenumber", "l_partkey"],
]


def q_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit of four lineitem column combos — exact distinct
    counts, duplicated-row mass, worst multiplicity, is_key flag (the
    synthetic lineitem carries genuine (orderkey, linenumber) duplicates,
    so the audit's negative verdicts are real)
    (operators/mlprep.py::candidate_key_audit)."""
    from gridmet_etl_spark.operators.mlprep import candidate_key_audit

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return candidate_key_audit(li, _CK_COMBOS)


def _sql_candidate_keys() -> str:
    parts = []
    for combo in _CK_COMBOS:
        cols = ", ".join(combo)
        parts.append(f"""
SELECT '{"+".join(combo)}' AS combo,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_rows,
       CAST(max(c) AS BIGINT) AS max_multiplicity,
       CAST(CASE WHEN count(*) = sum(c) THEN 1 ELSE 0 END AS INT) AS is_key
FROM (SELECT {cols}, count(*) AS c FROM lineitem GROUP BY {cols})""")
    return "\nUNION ALL\n".join(parts)


EXT23_QUERIES["candidate_keys"] = (q_candidate_keys, _sql_candidate_keys())

# ---------------------------------------------------------------------------
# reident_risk: prosecutor/journalist attacker-model scalars
# ---------------------------------------------------------------------------


def q_reident_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk of a fine-grained customer release
    (nation × segment × $100 balance band): prosecutor average risk,
    journalist (worst-class) risk, and the share of records unique on
    the quasi-identifiers
    (operators/mlprep.py::reidentification_risk)."""
    from gridmet_etl_spark.operators.mlprep import reidentification_risk

    cust = spark.read.parquet(_t(sf_dir, "customer"))
    rel = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("int").alias("bal_100"),
    )
    return reidentification_risk(
        rel, ["c_nationkey", "c_mktsegment", "bal_100"]
    )


SQL_REIDENT_RISK = f"""
WITH rel AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 100) AS INT) AS bal_100
  FROM customer),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_100, count(*) AS n
  FROM rel GROUP BY 1, 2, 3),
acc AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u,
         CAST(min(n) AS BIGINT) AS mn
  FROM classes)
SELECT n_rows, n_classes,
       ROUND(CAST(u AS DOUBLE) / CAST(n_rows AS DOUBLE), {R}) + 0
         AS pct_unique,
       ROUND(CAST(n_classes AS DOUBLE) / CAST(n_rows AS DOUBLE), {R}) + 0
         AS prosecutor_risk,
       ROUND(1.0 / CAST(mn AS DOUBLE), {R}) + 0 AS journalist_risk
FROM acc
"""


EXT23_QUERIES["reident_risk"] = (q_reident_risk, SQL_REIDENT_RISK)
