"""Round-8 wave-5 contract entries: the Mann–Kendall monotone-trend test
(the hydrology/climatology standard next to theilsen_trend's Sen slope),
the two-sample Cramér–von Mises EDF-distance, and Chao1/Good–Turing
vocabulary-coverage estimators.

Reference parity note: engine-extension surface (the reference is a fixed
two-pipeline ETL, SURVEY §3); oracles are the contract.

Discipline: Mann–Kendall's S and tie-corrected variance are exact
integers; Cramér–von Mises is the COUNT form of the EDF integral — every
term (a+b)·(A·m − B·n)² is an exact integer (DECIMAL/HUGEINT: the square
reaches (nm)²); coverage estimators are pure integer counts with
fixed-order edge divisions; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import R, _t

EXT17_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# mann_kendall: is daily order volume trending?
# ---------------------------------------------------------------------------


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on the daily order-count series — the
    nonparametric trend gate (pair with theilsen_trend for the slope);
    the pair comparison is |days|²-bounded by the daily rollup
    (operators/stats.py::mann_kendall)."""
    from gridmet_etl_spark.operators.stats import mann_kendall

    o = spark.read.parquet(_t(sf_dir, "orders"))
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return mann_kendall(daily, "day", "cnt")


SQL_MANN_KENDALL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
base AS (
  SELECT v AS x, row_number() OVER (ORDER BY day) AS rn FROM daily),
s AS (
  SELECT CAST(COALESCE(sum(CASE WHEN b.x > a.x THEN 1
                                WHEN b.x < a.x THEN -1
                                ELSE 0 END), 0) AS BIGINT) AS s
  FROM base a JOIN base b ON a.rn < b.rn),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
ties AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM base GROUP BY x)),
vr AS (
  SELECT n, s, tie3,
         CAST(n * (n - 1) * (2 * n + 5) - tie3 AS DOUBLE) / 18.0 AS var_s
  FROM s, nn, ties)
SELECT n, s,
       ROUND(var_s, {R}) + 0 AS var_s,
       ROUND(CASE WHEN var_s <= 0.0 THEN 0.0
             WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END, {R}) + 0 AS z
FROM vr
"""


EXT17_QUERIES["mann_kendall"] = (q_mann_kendall, SQL_MANN_KENDALL)

# ---------------------------------------------------------------------------
# cramer_von_mises: returned vs kept quantity distributions, whole-EDF
# ---------------------------------------------------------------------------


def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises between returned and kept line-item
    quantities — the whole-distribution companion to ks_test's worst-gap
    (operators/stats.py::cramer_von_mises). Groups sort 'kept' < 'ret'
    so X = kept, Y = returned."""
    from gridmet_etl_spark.operators.stats import cramer_von_mises

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.when(F.col("l_returnflag") == "R", F.lit("ret"))
        .otherwise(F.lit("kept"))
        .alias("grp"),
    )
    return cramer_von_mises(li, "qty", "grp")


SQL_CRAMER_VON_MISES = f"""
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
         sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM per_v),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m
        FROM per_v),
acc AS (
  SELECT sum(CAST(a + b AS HUGEINT)
             * (CAST(ca AS HUGEINT) * m - CAST(cb AS HUGEINT) * n)
             * (CAST(ca AS HUGEINT) * m - CAST(cb AS HUGEINT) * n)) AS u,
         any_value(n) AS n, any_value(m) AS m
  FROM cum, tot)
SELECT n, m,
       ROUND(CASE WHEN n <= 0 OR m <= 0 THEN 0.0
             ELSE CAST(u AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                     * ((CAST(n AS DOUBLE) + CAST(m AS DOUBLE))
                        * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))))
             END, {R}) + 0 AS t_stat
FROM acc
"""


EXT17_QUERIES["cramer_von_mises"] = (q_cramer_von_mises, SQL_CRAMER_VON_MISES)

# ---------------------------------------------------------------------------
# vocab_coverage: how much of the token distribution has the corpus seen
# ---------------------------------------------------------------------------


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 richness and Good–Turing unseen mass of the document corpus
    vocabulary — the saturation numbers next to heaps_fit's growth curve
    (operators/textops.py::vocab_coverage)."""
    from gridmet_etl_spark.operators.textops import vocab_coverage

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return vocab_coverage(docs)


SQL_VOCAB_COVERAGE = f"""
WITH tok AS (
  SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents)
  WHERE t <> ''),
counts AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
fof AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM counts GROUP BY c),
acc AS (
  SELECT CAST(sum(c * f) AS BIGINT) AS n_tokens,
         CAST(sum(f) AS BIGINT) AS n_types,
         CAST(COALESCE(sum(CASE WHEN c = 1 THEN f END), 0) AS BIGINT) AS f1,
         CAST(COALESCE(sum(CASE WHEN c = 2 THEN f END), 0) AS BIGINT) AS f2
  FROM fof)
SELECT n_tokens, n_types, f1, f2,
       ROUND(CAST(n_types AS DOUBLE)
             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), {R}) + 0 AS chao1,
       ROUND(CASE WHEN n_tokens > 0
             THEN CAST(f1 AS DOUBLE) / n_tokens ELSE 0.0 END, {R}) + 0
         AS unseen_mass,
       ROUND(1.0 - CASE WHEN n_tokens > 0
                   THEN CAST(f1 AS DOUBLE) / n_tokens
                   ELSE 0.0 END, {R}) + 0 AS coverage
FROM acc
"""


EXT17_QUERIES["vocab_coverage"] = (q_vocab_coverage, SQL_VOCAB_COVERAGE)
