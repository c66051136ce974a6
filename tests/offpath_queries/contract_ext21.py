"""Round-9 wave-2 contract entries: the spatial-statistics companions to
ext19's Moran's I, on the same reference-shaped raster (the gridMET CONUS
slices rmcd-mscb/gridmet-etl etl.py serves) — Geary's C (edge-contrast
autocorrelation), Getis–Ord Gi* (per-cell hot/cold-spot z surface), and
the axis-pooled empirical semivariogram (the correlation-length readout
kriging/range-model fits start from).

Discipline (ext19/ext20 conventions): raster values quantize to e6
integers at the edge; every sum of products accumulates DECIMAL(38,0)/
HUGEINT exactly; z/γ/C are single fixed-operand-order double expressions
of exact integers (sqrt and / are correctly-rounded IEEE, so the Spark
and DuckDB forms are bit-identical); displays round at R.

Scale shape (all three): shifted equi self-joins on grid keys — no
spatial index, no distance predicate, nothing quadratic; per-cell output
only where the product IS per-cell (Gi*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import FX, R

EXT21_QUERIES: dict = {}

# ---------------------------------------------------------------------------
# gearys_c: edge-contrast spatial autocorrelation of the tmmx slice
# ---------------------------------------------------------------------------


def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's C of the first tmmx raster slice (rook contiguity,
    e6-quantized) — the local-contrast companion to morans_i; C ≪ 1
    on a smooth temperature field (operators/geo.py::gearys_c)."""
    from gridmet_etl_spark.operators.geo import gearys_c

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
    return gearys_c(cells, "i", "j", "x_e6")


SQL_GEARYS_C = f"""
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
         sum(CAST(xa - xb AS HUGEINT) * (xa - xb)) AS sdd
  FROM edges),
fin AS (
  SELECT n, n_edges,
         (CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE)
           * CAST(sdd AS DOUBLE) AS num,
         2.0 * CAST(n_edges AS DOUBLE)
           * (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS den
  FROM tot, eacc)
SELECT n, n_edges,
       ROUND(CASE WHEN n_edges = 0 OR den = 0.0 THEN 0.0
             ELSE num / den END, {R}) + 0 AS c_geary,
       ROUND(CAST(CASE WHEN n < 2 THEN 0.0 ELSE 1.0 END AS DOUBLE),
             {R}) + 0 AS e_c
FROM fin
"""


EXT21_QUERIES["gearys_c"] = (q_gearys_c, SQL_GEARYS_C)

# ---------------------------------------------------------------------------
# getis_ord: per-cell Gi* hot/cold-spot z surface on the tmmx slice
# ---------------------------------------------------------------------------


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis–Ord Gi* z-score for EVERY cell of the first tmmx slice
    (rook + self neighborhood, e6-quantized) — where morans_i says the
    field is clustered, this says which cells are the hot/cold spots
    (operators/geo.py::getis_ord_gstar)."""
    from gridmet_etl_spark.operators.geo import getis_ord_gstar

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
    return getis_ord_gstar(cells, "i", "j", "x_e6")


SQL_GETIS_ORD = f"""
WITH base AS (
  SELECT i, j, CAST(round(value * 1e6) AS BIGINT) AS x
  FROM '{FX["grid"]}'
  WHERE var = 'tmmx'
    AND time = (SELECT min(time) FROM '{FX["grid"]}' WHERE var = 'tmmx')
    AND value IS NOT NULL),
contrib AS (
  SELECT i, j, x AS xn FROM base
  UNION ALL SELECT i + 1, j, x FROM base
  UNION ALL SELECT i - 1, j, x FROM base
  UNION ALL SELECT i, j + 1, x FROM base
  UNION ALL SELECT i, j - 1, x FROM base),
local AS (
  SELECT i, j, CAST(count(*) AS BIGINT) AS m,
         sum(CAST(xn AS HUGEINT)) AS lsum
  FROM contrib GROUP BY i, j),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM base),
z AS (
  SELECT base.i, base.j, local.m, CAST(local.lsum AS BIGINT) AS local_sum,
         CAST(tot.n AS DOUBLE) * CAST(local.lsum AS DOUBLE)
           - CAST(tot.s AS DOUBLE) * CAST(local.m AS DOUBLE) AS num,
         sqrt(CAST(tot.n AS DOUBLE) * CAST(tot.q AS DOUBLE)
              - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE))
           * sqrt((CAST(tot.n AS DOUBLE) * CAST(local.m AS DOUBLE)
                   - CAST(local.m AS DOUBLE) * CAST(local.m AS DOUBLE))
                  / (CAST(tot.n AS DOUBLE) - 1.0)) AS den,
         tot.n AS n
  FROM base JOIN local ON local.i = base.i AND local.j = base.j, tot)
SELECT i, j, m, local_sum,
       ROUND(CASE WHEN n < 2 OR den = 0.0 THEN 0.0
             ELSE num / den END, {R}) + 0 AS z_gstar
FROM z
"""


EXT21_QUERIES["getis_ord"] = (q_getis_ord, SQL_GETIS_ORD)

# ---------------------------------------------------------------------------
# semivariogram: axis-pooled empirical variogram of the pr slice
# ---------------------------------------------------------------------------


def q_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram γ(h), h = 1..6, of the first pr
    (precipitation) slice — the patchiest reference variable, so γ rises
    fastest with lag; the correlation-length curve a kriging fit starts
    from (operators/geo.py::semivariogram)."""
    from gridmet_etl_spark.operators.geo import semivariogram

    grid = spark.read.parquet(FX["grid"]).filter(F.col("var") == "pr")
    t0 = grid.agg(F.min("time").alias("_t0"))
    cells = (
        grid.join(F.broadcast(t0), grid.time == t0._t0)
        .filter(F.col("value").isNotNull())
        .select(
            "i", "j",
            F.round(F.col("value") * 1e6, 0).cast("long").alias("x_e6"),
        )
    )
    return semivariogram(cells, "i", "j", "x_e6", max_lag=6)


SQL_SEMIVARIOGRAM = f"""
WITH base AS (
  SELECT i, j, CAST(round(value * 1e6) AS BIGINT) AS x
  FROM '{FX["grid"]}'
  WHERE var = 'pr'
    AND time = (SELECT min(time) FROM '{FX["grid"]}' WHERE var = 'pr')
    AND value IS NOT NULL),
lags AS (SELECT unnest(range(1, 7)) AS lag),
pairs AS (
  SELECT lags.lag, a.x AS xa, b.x AS xb
  FROM lags, base a, base b
  WHERE b.i = a.i + lags.lag AND b.j = a.j
  UNION ALL
  SELECT lags.lag, a.x AS xa, b.x AS xb
  FROM lags, base a, base b
  WHERE b.i = a.i AND b.j = a.j + lags.lag),
acc AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         sum(CAST(xa - xb AS HUGEINT) * (xa - xb)) AS sdd
  FROM pairs GROUP BY lag)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       ROUND(CASE WHEN n_pairs = 0 THEN 0.0
             ELSE CAST(sdd AS DOUBLE) / (2.0 * CAST(n_pairs AS DOUBLE))
             END, {R}) + 0 AS gamma
FROM acc
"""


EXT21_QUERIES["semivariogram"] = (q_semivariogram, SQL_SEMIVARIOGRAM)
