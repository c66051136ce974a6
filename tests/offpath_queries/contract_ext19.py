"""Round-8 wave-7 contract entries: classic one-way ANOVA, Bartlett's
variance-homogeneity test (the parametric completion next to
brown_forsythe/kruskal_wallis), and Moran's I spatial autocorrelation
over the reference-shaped raster grid — the "is this field clustered"
number the reference's gridMET consumers compute on exactly this data
shape (rmcd-mscb/gridmet-etl etl.py serves the rasters).

Discipline: ANOVA/Bartlett moment sums are exact DECIMAL(38,0); the
|k|-row between-group/ln-variance/1-over-df/within-SS term sums quantize
max- or abs-max-normalized floor-e12; Moran's cross term multiplies
through by n² so the numerator and denominator are single divisions of
exact forms; displays round at R.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import FX, R, _t

EXT19_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# anova_oneway: do mean order values differ by return status?
# ---------------------------------------------------------------------------


def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of line-item value (cents) across returnflag groups
    — kruskal_wallis' parametric twin on the same comparison, with η²
    effect size (operators/stats.py::anova_oneway)."""
    from gridmet_etl_spark.operators.stats import anova_oneway

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_returnflag",
    )
    return anova_oneway(li, "cents", "l_returnflag")


SQL_ANOVA_ONEWAY = f"""
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
per_g AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM v GROUP BY g),
parts AS (
  SELECT n_g, s, q,
         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE) AS t
  FROM per_g),
pm AS (SELECT max(t) AS tm FROM parts),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s) AS DOUBLE) AS s_all, CAST(sum(q) AS DOUBLE) AS q_all,
         CAST(sum(CASE WHEN tm > 0.0
                       THEN CAST(floor(t / tm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(tm)
           AS sb_parts
  FROM parts, pm),
ss AS (
  SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
         sb_parts - s_all * s_all / CAST(n AS DOUBLE) AS ssb,
         q_all - sb_parts AS ssw,
         q_all - s_all * s_all / CAST(n AS DOUBLE) AS sst
  FROM tot)
SELECT CAST(k AS INT) AS k, n,
       ROUND(CASE WHEN k < 2 OR n <= k OR ssw <= 0.0 THEN 0.0
             ELSE (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END, {R}) + 0
         AS f_stat,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n - k AS BIGINT) AS df2,
       ROUND(CASE WHEN sst <= 0.0 THEN 0.0 ELSE ssb / sst END, {R}) + 0
         AS eta_sq
FROM ss
"""


EXT19_QUERIES["anova_oneway"] = (q_anova_oneway, SQL_ANOVA_ONEWAY)

# ---------------------------------------------------------------------------
# bartlett: the normal-theory variance-homogeneity twin
# ---------------------------------------------------------------------------


def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of l_quantity spread across returnflag groups —
    the normal-theory twin of the certified brown_forsythe on the same
    data (run both: disagreement flags non-normality)
    (operators/stats.py::bartlett_test)."""
    from gridmet_etl_spark.operators.stats import bartlett_test

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
    )
    return bartlett_test(li, "qty", "l_returnflag")


SQL_BARTLETT = f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x FROM lineitem),
per_g AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM v GROUP BY g HAVING count(*) >= 2),
terms AS (
  SELECT n_g,
         (CAST(n_g AS DOUBLE) - 1.0)
           * ln(greatest((CAST(n_g AS DOUBLE) * CAST(q AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / (CAST(n_g AS DOUBLE)
                            * (CAST(n_g AS DOUBLE) - 1.0)), 1e-300)) AS lt,
         1.0 / (CAST(n_g AS DOUBLE) - 1.0) AS it,
         (CAST(n_g AS DOUBLE) * CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
           / CAST(n_g AS DOUBLE) AS wt
  FROM per_g),
tm AS (SELECT max(abs(lt)) AS lm, max(it) AS im, max(wt) AS wm FROM terms),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lm > 0.0
                       THEN CAST(floor(lt / lm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(lm)
           AS sum_ln,
         CAST(sum(CASE WHEN im > 0.0
                       THEN CAST(floor(it / im * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(im)
           AS sum_inv,
         CAST(sum(CASE WHEN wm > 0.0
                       THEN CAST(floor(wt / wm * 1e12) AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 1e12 * any_value(wm)
           AS ssw_parts
  FROM terms, tm),
fin AS (
  SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
         ssw_parts / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS sp2,
         sum_ln, sum_inv
  FROM acc)
SELECT CAST(k AS INT) AS k, n,
       ROUND(CASE WHEN k < 2 OR sp2 <= 0.0 THEN 0.0
             ELSE ((nd - kd) * ln(greatest(sp2, 1e-300)) - sum_ln)
                  / (1.0 + (sum_inv - 1.0 / (nd - kd))
                     / (3.0 * (kd - 1.0)))
             END, {R}) + 0 AS chi2,
       CAST(k - 1 AS BIGINT) AS df
FROM fin
"""


EXT19_QUERIES["bartlett"] = (q_bartlett, SQL_BARTLETT)

# ---------------------------------------------------------------------------
# morans_i: is the tmmx raster spatially clustered?
# ---------------------------------------------------------------------------


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I of the first tmmx raster slice (rook contiguity,
    e6-quantized values) — temperature fields are strongly spatially
    autocorrelated, so I ≫ E[I] here; the spatial-structure number the
    reference's raster consumers compute
    (operators/geo.py::morans_i)."""
    from gridmet_etl_spark.operators.geo import morans_i

    grid = spark.read.parquet(FX["grid"]).filter(F.col("var") == "tmmx")
    t0 = grid.agg(F.min("time").alias("_t0"))
    cells = (
        grid.join(F.broadcast(t0), grid.time == t0._t0)
        .filter(F.col("value").isNotNull())
        .select(
            "i", "j",
            F.round(F.col("value") * 1e6, 0).cast("long").alias("x_e6"),
        )
    )
    return morans_i(cells, "i", "j", "x_e6")


SQL_MORANS_I = f"""
WITH base AS (
  SELECT i, j, CAST(round(value * 1e6) AS BIGINT) AS x
  FROM '{FX["grid"]}'
  WHERE var = 'tmmx'
    AND time = (SELECT min(time) FROM '{FX["grid"]}' WHERE var = 'tmmx')
    AND value IS NOT NULL),
edges AS (
  SELECT a.x AS xa, b.x AS xb
  FROM base a JOIN base b ON b.i = a.i + 1 AND b.j = a.j
  UNION ALL
  SELECT a.x AS xa, b.x AS xb
  FROM base a JOIN base b ON b.i = a.i AND b.j = a.j + 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM base),
eacc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         sum(CAST(xa AS HUGEINT) * xb) AS sxy,
         sum(CAST(xa AS HUGEINT) + xb) AS sab
  FROM edges),
fin AS (
  SELECT n, n_edges,
         CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(sab AS DOUBLE)
           + CAST(n_edges AS DOUBLE) * CAST(s AS DOUBLE)
             * CAST(s AS DOUBLE) AS num,
         CAST(n_edges AS DOUBLE)
           * (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS den
  FROM tot, eacc)
SELECT n, n_edges,
       ROUND(CASE WHEN n_edges = 0 OR den = 0.0 THEN 0.0
             ELSE num / den END, {R}) + 0 AS i_moran,
       ROUND(CASE WHEN n < 2 THEN 0.0
             ELSE -1.0 / (CAST(n AS DOUBLE) - 1.0) END, {R}) + 0 AS e_i
FROM fin
"""


EXT19_QUERIES["morans_i"] = (q_morans_i, SQL_MORANS_I)
