"""Driver-contract query registry: (spark, sf_dir) callables + matching
DuckDB oracle SQL for the paper's operators (SURVEY §2): the strict and
masked area-weighted means, the ensemble median, the six-variable wide mean,
both pipelines, the bbox/time prunes, the missing-data fill, the catalog
lookup, weight QA, humidity physics, the member concat and in-engine
polygon weights.

Every query reads the reference-shaped domain fixtures under ``fixtures/``
by absolute path, from both Spark and DuckDB; ``sf_dir`` is unused.

Float discipline: SUM over doubles is order-dependent, and Spark/DuckDB sum
in different orders. Every floating aggregate is rounded (6 decimals) in BOTH
the Spark query and the oracle so value-hashes match; keys/counts are exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.physics import relative_humidity
from .operators.bbox import bbox_filter, time_filter
from .operators.ensemble import ensemble_median
from .operators.fill import missingness_split, nearest_donor
from .operators.weighted_agg import weight_sum_qa, weighted_mean_wide
from .plans.gridmet import gridmet_pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXDIR = os.path.join(REPO, "fixtures")

FX = {
    name: os.path.join(FIXDIR, f"{name}.parquet")
    for name in ["grid", "grid_ens", "weights", "weights_ens", "features", "catalog", "elevation", "polygons"]
}

R = 6  # rounding digits for float aggregates (see module docstring)


def _pq(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _grid(spark: SparkSession) -> DataFrame:
    from .sources.readers import read_grid

    return read_grid(spark, FX["grid"])


def _grid_ens(spark: SparkSession) -> DataFrame:
    from .sources.readers import read_grid

    return read_grid(spark, FX["grid_ens"])


def _weights(spark: SparkSession) -> DataFrame:
    from .sources.readers import read_weights_parquet

    return read_weights_parquet(spark, FX["weights"])


# --------------------------------------------------------------------------
# Domain queries (reference operators on the reference-shaped fixtures)
# --------------------------------------------------------------------------


def q_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A1: strict area-weighted mean, tmmx."""
    out = weighted_mean_wide(_grid(spark), _weights(spark), ["tmmx"])
    return out.select("feature_id", "time", F.round("tmmx", R).alias("value"))


SQL_WEIGHTED_MEAN = f"""
SELECT w.feature_id, g.time,
       ROUND(CASE WHEN count(CASE WHEN g.value IS NULL THEN 1 END) > 0 THEN NULL
             ELSE sum(w.wght * g.value) / sum(w.wght) END, {R}) AS value
FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
WHERE g.var = 'tmmx'
GROUP BY w.feature_id, g.time
"""


def q_masked_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: masked weighted mean (--partial), tmmx."""
    out = weighted_mean_wide(_grid(spark), _weights(spark), ["tmmx"], masked=True)
    return out.select("feature_id", "time", F.round("tmmx", R).alias("value"))


SQL_MASKED_WEIGHTED_MEAN = f"""
SELECT w.feature_id, g.time,
       ROUND(sum(CASE WHEN g.value IS NOT NULL THEN w.wght * g.value END)
             / sum(CASE WHEN g.value IS NOT NULL THEN w.wght END), {R}) AS value
FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
WHERE g.var = 'tmmx'
GROUP BY w.feature_id, g.time
"""


def q_ensemble_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact median across 48 members per cell (tmmx, first 4 rows of grid)."""
    sub = _grid_ens(spark).filter((F.col("var") == "tmmx") & (F.col("i") < 4))
    out = ensemble_median(sub)
    return out.select(
        "time", "i", "j", F.round("lat", R).alias("lat"), F.round("lon", R).alias("lon"),
        F.round("value", R).alias("value"),
    )


SQL_ENSEMBLE_MEDIAN = f"""
SELECT time, i, j, ROUND(any_value(lat), {R}) AS lat, ROUND(any_value(lon), {R}) AS lon,
       ROUND(median(value), {R}) AS value
FROM '{FX["grid_ens"]}' WHERE var = 'tmmx' AND i < 4
GROUP BY time, i, j
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: masked means of the 6 gridMET variables, one column each. The
    oracle aggregates long form, then pivots: an independent reference for
    the wide operator."""
    variables = ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"]
    wide = weighted_mean_wide(_grid(spark), _weights(spark), variables, masked=True)
    return wide.select("feature_id", "time", *[F.round(v, R).alias(v) for v in variables])


SQL_PIVOT_WIDE = f"""
WITH long_agg AS (
  SELECT g.var, w.feature_id, g.time,
         sum(CASE WHEN g.value IS NOT NULL THEN w.wght * g.value END)
           / sum(CASE WHEN g.value IS NOT NULL THEN w.wght END) AS value
  FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
  GROUP BY g.var, w.feature_id, g.time)
SELECT feature_id, time,
       ROUND(max(CASE WHEN var = 'tmmx' THEN value END), {R}) AS tmmx,
       ROUND(max(CASE WHEN var = 'tmmn' THEN value END), {R}) AS tmmn,
       ROUND(max(CASE WHEN var = 'pr'   THEN value END), {R}) AS pr,
       ROUND(max(CASE WHEN var = 'rmax' THEN value END), {R}) AS rmax,
       ROUND(max(CASE WHEN var = 'rmin' THEN value END), {R}) AS rmin,
       ROUND(max(CASE WHEN var = 'vs'   THEN value END), {R}) AS vs
FROM long_agg GROUP BY feature_id, time
"""


def q_gridmet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full gridmet-etl analogue (masked), wide converted output."""
    out = gridmet_pipeline(_grid(spark), _weights(spark), partial=True)
    return out.select(
        "feature_id", "time",
        *[F.round(c, R).alias(c) for c in ["tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"]],
    )


SQL_GRIDMET_PIPELINE = f"""
WITH long_agg AS (
  SELECT g.var, w.feature_id, g.time,
         sum(CASE WHEN g.value IS NOT NULL THEN w.wght * g.value END)
           / sum(CASE WHEN g.value IS NOT NULL THEN w.wght END) AS value
  FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
  GROUP BY g.var, w.feature_id, g.time),
wide AS (
  SELECT feature_id, time,
         max(CASE WHEN var = 'tmmx' THEN value END) AS tmmx,
         max(CASE WHEN var = 'tmmn' THEN value END) AS tmmn,
         max(CASE WHEN var = 'pr'   THEN value END) AS pr,
         max(CASE WHEN var = 'rmax' THEN value END) AS rmax,
         max(CASE WHEN var = 'rmin' THEN value END) AS rmin,
         max(CASE WHEN var = 'vs'   THEN value END) AS vs
  FROM long_agg GROUP BY feature_id, time)
SELECT feature_id, time,
       ROUND(tmmx - 273.15, {R}) AS tmax,
       ROUND(tmmn - 273.15, {R}) AS tmin,
       ROUND(pr, {R}) AS prcp,
       ROUND(rmax, {R}) AS rhmax,
       ROUND(rmin, {R}) AS rhmin,
       ROUND(vs, {R}) AS ws,
       ROUND((rmin + rmax) / 2.0, {R}) AS humidity
FROM wide
"""


def q_cfsv2_median_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method 1: ens-median → weighted mean → physics; full converted output."""
    from .sources.readers import read_weights_parquet

    elevation = _pq(spark, FX["elevation"])
    w = read_weights_parquet(spark, FX["weights_ens"])
    from .plans.cfsv2 import cfsv2_median_pipeline

    out = cfsv2_median_pipeline(_grid_ens(spark), w, elevation)
    return out.select(
        "feature_id", "time",
        *[F.round(c, R).alias(c) for c in ["tmax", "tmin", "prcp", "humidity"]],
    )


SQL_CFSV2_MEDIAN_PIPELINE = f"""
WITH med AS (
  SELECT var, time, i, j, median(value) AS value
  FROM '{FX["grid_ens"]}' GROUP BY var, time, i, j),
long_agg AS (
  SELECT g.var, w.feature_id, g.time,
         CASE WHEN count(CASE WHEN g.value IS NULL THEN 1 END) > 0 THEN NULL
              ELSE sum(w.wght * g.value) / sum(w.wght) END AS value
  FROM med g JOIN '{FX["weights_ens"]}' w ON g.i = w.i AND g.j = w.j
  GROUP BY g.var, w.feature_id, g.time),
wide AS (
  SELECT feature_id, time,
         max(CASE WHEN var = 'tmmx' THEN value END) AS tmmx,
         max(CASE WHEN var = 'tmmn' THEN value END) AS tmmn,
         max(CASE WHEN var = 'pr'   THEN value END) AS pr,
         max(CASE WHEN var = 'sph'  THEN value END) AS sph
  FROM long_agg GROUP BY feature_id, time),
phys AS (
  SELECT w.feature_id, w.time, w.tmmx, w.tmmn, w.pr, w.sph, e.hru_elev,
         (w.tmmx + w.tmmn) / 2.0 AS t_avg
  FROM wide w JOIN '{FX["elevation"]}' e ON w.feature_id = e.feature_id)
SELECT feature_id, time,
       ROUND(tmmx - 273.15, {R}) AS tmax,
       ROUND(tmmn - 273.15, {R}) AS tmin,
       ROUND(pr, {R}) AS prcp,
       ROUND((sph * (1013.25 * exp(-9.80665 * hru_elev / (287.05 * t_avg))) / 0.622)
             / (6.1094 * exp(17.625 * (t_avg - 273.15) / ((t_avg - 273.15) + 243.04)))
             * 100.0, {R}) AS humidity
FROM phys
"""


def q_cfsv2_ensemble_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method 2: all 48 members, one pass (E1 rewrite)."""
    from .plans.cfsv2 import cfsv2_ensemble_pipeline
    from .sources.readers import read_weights_parquet

    elevation = _pq(spark, FX["elevation"])
    w = read_weights_parquet(spark, FX["weights_ens"])
    out = cfsv2_ensemble_pipeline(_grid_ens(spark), w, elevation)
    return out.select(
        "feature_id", "ens", "time",
        *[F.round(c, R).alias(c) for c in ["tmax", "tmin", "prcp", "humidity"]],
    )


SQL_CFSV2_ENSEMBLE_PIPELINE = f"""
WITH long_agg AS (
  SELECT g.var, g.ens, w.feature_id, g.time,
         CASE WHEN count(CASE WHEN g.value IS NULL THEN 1 END) > 0 THEN NULL
              ELSE sum(w.wght * g.value) / sum(w.wght) END AS value
  FROM '{FX["grid_ens"]}' g JOIN '{FX["weights_ens"]}' w ON g.i = w.i AND g.j = w.j
  GROUP BY g.var, g.ens, w.feature_id, g.time),
wide AS (
  SELECT feature_id, ens, time,
         max(CASE WHEN var = 'tmmx' THEN value END) AS tmmx,
         max(CASE WHEN var = 'tmmn' THEN value END) AS tmmn,
         max(CASE WHEN var = 'pr'   THEN value END) AS pr,
         max(CASE WHEN var = 'sph'  THEN value END) AS sph
  FROM long_agg GROUP BY feature_id, ens, time),
phys AS (
  SELECT w.*, e.hru_elev, (w.tmmx + w.tmmn) / 2.0 AS t_avg
  FROM wide w JOIN '{FX["elevation"]}' e ON w.feature_id = e.feature_id)
SELECT feature_id, ens, time,
       ROUND(tmmx - 273.15, {R}) AS tmax,
       ROUND(tmmn - 273.15, {R}) AS tmin,
       ROUND(pr, {R}) AS prcp,
       ROUND((sph * (1013.25 * exp(-9.80665 * hru_elev / (287.05 * t_avg))) / 0.622)
             / (6.1094 * exp(17.625 * (t_avg - 273.15) / ((t_avg - 273.15) + 243.04)))
             * 100.0, {R}) AS humidity
FROM phys
"""


def q_nearest_donor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/O1: nearest-with-data donor per missing feature, with distance."""
    out = weighted_mean_wide(_grid(spark), _weights(spark), ["tmmx"], masked=True)
    features = _pq(spark, FX["features"]).select(
        F.col("feature_id").cast("long").alias("feature_id"), "lat", "lon"
    )
    missing, present = missingness_split(out, features)
    nn = nearest_donor(missing, present)
    return nn.select("missing_id", "donor_id", F.round("distance", R).alias("distance"))


SQL_NEAREST_DONOR = f"""
WITH first_vals AS (
  SELECT w.feature_id,
         sum(CASE WHEN g.value IS NOT NULL THEN w.wght * g.value END)
           / sum(CASE WHEN g.value IS NOT NULL THEN w.wght END) AS value
  FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
  WHERE g.var = 'tmmx' AND g.time = (SELECT min(time) FROM '{FX["grid"]}')
  GROUP BY w.feature_id),
present AS (
  SELECT f.feature_id, f.lat, f.lon FROM '{FX["features"]}' f
  JOIN first_vals v ON f.feature_id = v.feature_id AND v.value IS NOT NULL),
missing AS (
  SELECT f.feature_id, f.lat, f.lon FROM '{FX["features"]}' f
  WHERE f.feature_id NOT IN (SELECT feature_id FROM present)),
ranked AS (
  SELECT m.feature_id AS missing_id, p.feature_id AS donor_id,
         sqrt((m.lat - p.lat) * (m.lat - p.lat) + (m.lon - p.lon) * (m.lon - p.lon)) AS distance,
         row_number() OVER (PARTITION BY m.feature_id
                            ORDER BY sqrt((m.lat - p.lat) * (m.lat - p.lat)
                                          + (m.lon - p.lon) * (m.lon - p.lon)), p.feature_id) AS rn
  FROM missing m CROSS JOIN present p)
SELECT missing_id, donor_id, ROUND(distance, {R}) AS distance FROM ranked WHERE rn = 1
"""


def q_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: buffered bbox subset (order-insensitive range predicate)."""
    bounds = {"minx": -124.3, "maxx": -123.9, "miny": 48.6, "maxy": 49.0}
    out = bbox_filter(_grid(spark).filter(F.col("var") == "pr"), bounds)
    return out.select(
        "var", "time", "i", "j",
        F.round("lat", R).alias("lat"), F.round("lon", R).alias("lon"),
        F.round("value", R).alias("value"),
    )


SQL_BBOX_FILTER = f"""
SELECT var, time, i, j, ROUND(lat, {R}) AS lat, ROUND(lon, {R}) AS lon,
       ROUND(value, {R}) AS value
FROM '{FX["grid"]}'
WHERE var = 'pr'
  AND lon BETWEEN -124.3 - 0.04167 AND -123.9 + 0.04167
  AND lat BETWEEN 48.6 - 0.04167 AND 49.0 + 0.04167
"""


def q_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: inclusive date-range restriction."""
    out = time_filter(_grid(spark).filter(F.col("var") == "vs"), "1980-01-02", "1980-01-04")
    return out.groupBy("time").agg(
        F.count("*").alias("n_cells"), F.round(F.sum("value"), R).alias("sum_value")
    )


SQL_TIME_FILTER = f"""
SELECT time, count(*) AS n_cells, ROUND(sum(value), {R}) AS sum_value
FROM '{FX["grid"]}'
WHERE var = 'vs' AND time BETWEEN DATE '1980-01-02' AND DATE '1980-01-04'
GROUP BY time
"""


def q_catalog_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/O2: conjunctive catalog filter + deterministic first match."""
    from .sources.readers import read_catalog

    cat = read_catalog(spark, FX["catalog"])
    out = cat.filter((F.col("id") == "gridmet") & (F.col("variable") == "tmmx"))
    return (
        out.orderBy(F.col("rank").asc_nulls_last())
        .limit(1)
        .select("id", "variable", "varname", "units", "T_name", "X_name", "Y_name")
    )


SQL_CATALOG_LOOKUP = f"""
SELECT id, variable, varname, units, T_name, X_name, Y_name
FROM '{FX["catalog"]}'
WHERE id = 'gridmet' AND variable = 'tmmx'
ORDER BY rank LIMIT 1
"""


def q_weight_sum_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-feature weight-sum invariant check."""
    return weight_sum_qa(_weights(spark)).select(
        "feature_id", F.round("wght_sum", R).alias("wght_sum")
    )


SQL_WEIGHT_SUM_QA = f"""
SELECT feature_id, ROUND(sum(wght), {R}) AS wght_sum
FROM '{FX["weights"]}' GROUP BY feature_id
"""


def q_physics_rh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F5: relative-humidity physics on the elevation table with fixed
    Kelvin temps / sph (pure Column-expression library, no UDF)."""
    elev = _pq(spark, FX["elevation"])
    return elev.select(
        "feature_id",
        F.round(
            relative_humidity(F.lit(295.0), F.lit(283.0), F.lit(0.009), F.col("hru_elev")), R
        ).alias("rh"),
    )


SQL_PHYSICS_RH = f"""
SELECT feature_id,
       ROUND((0.009 * (1013.25 * exp(-9.80665 * hru_elev / (287.05 * 289.0))) / 0.622)
             / (6.1094 * exp(17.625 * (289.0 - 273.15) / ((289.0 - 273.15) + 243.04)))
             * 100.0, {R}) AS rh
FROM '{FX["elevation"]}'
"""


def q_union_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: concat-along-new-dim = UNION ALL + member tag."""
    base = (
        _grid(spark)
        .filter((F.col("var") == "pr") & (F.col("time") == F.lit("1980-01-01")) & (F.col("i") < 5))
        .select("i", "j", F.round("value", R).alias("value"))
    )
    from .operators.ensemble import concat_members

    return concat_members([base, base]).select("ens", "i", "j", "value")


SQL_UNION_CONCAT = f"""
WITH base AS (
  SELECT i, j, ROUND(value, {R}) AS value FROM '{FX["grid"]}'
  WHERE var = 'pr' AND time = DATE '1980-01-01' AND i < 5)
SELECT 0 AS ens, i, j, value FROM base
UNION ALL
SELECT 1 AS ens, i, j, value FROM base
"""


def q_fill_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full missing-data subsystem on the flagship output: masked pipeline →
    nearest-donor fill → complete feature×day series (J2+J3+P5/P6+O1)."""
    from .operators.fill import fill_missing
    from .sources.readers import read_features

    wide = gridmet_pipeline(_grid(spark), _weights(spark), partial=True)
    features = read_features(spark, FX["features"])
    filled, _fmap = fill_missing(wide, features)
    return filled.select(
        "feature_id", "time",
        *[F.round(c, R).alias(c) for c in ["tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"]],
    )


SQL_FILL_PIPELINE = f"""
WITH long_agg AS (
  SELECT g.var, w.feature_id, g.time,
         sum(CASE WHEN g.value IS NOT NULL THEN w.wght * g.value END)
           / sum(CASE WHEN g.value IS NOT NULL THEN w.wght END) AS value
  FROM '{FX["grid"]}' g JOIN '{FX["weights"]}' w ON g.i = w.i AND g.j = w.j
  GROUP BY g.var, w.feature_id, g.time),
wide AS (
  SELECT feature_id, time,
         max(CASE WHEN var = 'tmmx' THEN value END) - 273.15 AS tmax,
         max(CASE WHEN var = 'tmmn' THEN value END) - 273.15 AS tmin,
         max(CASE WHEN var = 'pr'   THEN value END) AS prcp,
         max(CASE WHEN var = 'rmax' THEN value END) AS rhmax,
         max(CASE WHEN var = 'rmin' THEN value END) AS rhmin,
         max(CASE WHEN var = 'vs'   THEN value END) AS ws,
         (max(CASE WHEN var = 'rmin' THEN value END)
          + max(CASE WHEN var = 'rmax' THEN value END)) / 2.0 AS humidity
  FROM long_agg GROUP BY feature_id, time),
present AS (
  SELECT f.feature_id, f.lat, f.lon FROM '{FX["features"]}' f
  JOIN wide v ON f.feature_id = v.feature_id
   AND v.time = (SELECT min(time) FROM wide) AND v.tmax IS NOT NULL),
missing AS (
  SELECT f.feature_id, f.lat, f.lon FROM '{FX["features"]}' f
  WHERE f.feature_id NOT IN (SELECT feature_id FROM present)),
fill_map AS (
  SELECT missing_id, donor_id FROM (
    SELECT m.feature_id AS missing_id, p.feature_id AS donor_id,
           row_number() OVER (PARTITION BY m.feature_id
                              ORDER BY (m.lat - p.lat) * (m.lat - p.lat)
                                       + (m.lon - p.lon) * (m.lon - p.lon), p.feature_id) AS rn
    FROM missing m CROSS JOIN present p) t WHERE rn = 1),
filled AS (
  SELECT * FROM wide WHERE feature_id NOT IN (SELECT missing_id FROM fill_map)
  UNION ALL
  SELECT fm.missing_id AS feature_id, w.time, w.tmax, w.tmin, w.prcp,
         w.rhmax, w.rhmin, w.ws, w.humidity
  FROM fill_map fm JOIN wide w ON w.feature_id = fm.donor_id)
SELECT feature_id, time, ROUND(tmax, {R}) AS tmax, ROUND(tmin, {R}) AS tmin,
       ROUND(prcp, {R}) AS prcp, ROUND(rhmax, {R}) AS rhmax,
       ROUND(rhmin, {R}) AS rhmin, ROUND(ws, {R}) AS ws,
       ROUND(humidity, {R}) AS humidity
FROM filled
"""


# ---------------------------------------------------------------------------
# Spark-native weight generation: point-in-polygon coverage → zonal mean
# ---------------------------------------------------------------------------

_PIP_S = 3  # 3×3 supersample lattice per cell
_PIP_RES = 0.04167  # fixtures.RES — cell size of the grid fixture


def _pip_offsets() -> list[float]:
    return [((k + 0.5) / _PIP_S - 0.5) * _PIP_RES for k in range(_PIP_S)]


def q_polygon_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine areal-weight generation (the step the reference outsources
    to gdptools — its weights CSV is loaded ready-made at etl.py:600-605):
    3×3-supersampled ray-cast coverage of each grid cell against each
    polygon ring, normalized per feature to the reference's (feature_id,
    i, j, wght) schema. Pure Column HOFs — no UDF; polygons broadcast."""
    from .operators.spatial_weights import cell_coverage_weights

    polys = _pq(spark, FX["polygons"])
    cells = (
        _pq(spark, FX["grid"])
        .where(F.col("var") == "tmmx")
        .select("i", "j", "lon", "lat")
        .distinct()
        # AQE coalesces the tiny distinct output to ONE partition, but the
        # downstream fan-out is x(s^2 * |polygons in bbox|) ray casts —
        # byte-based coalescing cannot see it. Spread BEFORE the blow-up
        # (measured 2.3 s -> 0.4 s; same fan-out-aware rule as the
        # max_dup_spans bench input).
        .repartition(spark.sparkContext.defaultParallelism)
    )
    w = cell_coverage_weights(cells, polys, cell_size=_PIP_RES, supersample=_PIP_S)
    return w.select("feature_id", "i", "j", F.round("wght", R).alias("wght"))


def _sql_polygon_subpoints() -> str:
    """Shared oracle CTEs: cells → s×s subpoints → ray-cast hits →
    per-(feature, cell) coverage. Offsets are injected via repr() so the
    SQL doubles are bit-identical to the Spark literals (DuckDB decimal
    literals would otherwise divide as DECIMAL, not DOUBLE)."""
    offs = ", ".join(f"CAST({o!r} AS DOUBLE)" for o in _pip_offsets())
    return f"""
cells AS (
  SELECT DISTINCT i, j, lon, lat FROM '{FX["grid"]}' WHERE var = 'tmmx'),
pts AS (
  SELECT i, j, lon + dx.o AS sx, lat + dy.o AS sy
  FROM cells, unnest([{offs}]) AS dx(o), unnest([{offs}]) AS dy(o)),
hits AS (
  SELECT p.feature_id, t.i, t.j
  FROM pts t, '{FX["polygons"]}' p
  WHERE list_sum(list_transform(generate_series(1, len(p.xs)), k ->
          CASE WHEN (p.ys[k] > t.sy) <> (p.ys[(k % len(p.ys)) + 1] > t.sy)
               THEN CASE WHEN t.sx < (p.xs[(k % len(p.xs)) + 1] - p.xs[k])
                                     * (t.sy - p.ys[k])
                                     / (p.ys[(k % len(p.ys)) + 1] - p.ys[k])
                                     + p.xs[k]
                         THEN 1 ELSE 0 END
               ELSE 0 END)) % 2 = 1),
cov AS (
  SELECT feature_id, i, j, count(*) AS cnt
  FROM hits GROUP BY feature_id, i, j),
wt AS (
  SELECT feature_id, i, j,
         CAST(cnt AS DOUBLE)
           / CAST(sum(cnt) OVER (PARTITION BY feature_id) AS DOUBLE) AS wght
  FROM cov)"""


SQL_POLYGON_WEIGHTS = f"""
WITH {_sql_polygon_subpoints()}
SELECT feature_id, i, j, ROUND(wght, {R}) AS wght FROM wt
"""


def q_polygon_zonal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: generate the weights in-engine (q_polygon_weights'
    coverage pass, UNROUNDED) and feed them straight into the core
    weighted-mean aggregate — the full gdptools+gridmet-etl workflow as
    ONE Spark DAG (weight generation fuses with the aggregation; the grid
    fact still only shuffles at output size)."""
    from .operators.spatial_weights import cell_coverage_weights

    polys = _pq(spark, FX["polygons"])
    grid = _pq(spark, FX["grid"]).where(F.col("var") == "tmmx")
    cells = (
        grid.select("i", "j", "lon", "lat")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)  # see q_polygon_weights
    )
    w = cell_coverage_weights(cells, polys, cell_size=_PIP_RES, supersample=_PIP_S)
    out = weighted_mean_wide(grid, w, ["tmmx"])
    return out.select("feature_id", "time", F.round("tmmx", R).alias("value"))


SQL_POLYGON_ZONAL_MEAN = f"""
WITH {_sql_polygon_subpoints()}
SELECT w.feature_id, g.time,
       ROUND(CASE WHEN count(CASE WHEN g.value IS NULL THEN 1 END) > 0 THEN NULL
             ELSE sum(w.wght * g.value) / sum(w.wght) END, {R}) AS value
FROM '{FX["grid"]}' g JOIN wt w ON g.i = w.i AND g.j = w.j
WHERE g.var = 'tmmx'
GROUP BY w.feature_id, g.time
"""


DOMAIN_QUERIES = {
    "weighted_mean": (q_weighted_mean, SQL_WEIGHTED_MEAN),
    "masked_weighted_mean": (q_masked_weighted_mean, SQL_MASKED_WEIGHTED_MEAN),
    "ensemble_median": (q_ensemble_median, SQL_ENSEMBLE_MEDIAN),
    "pivot_wide": (q_pivot_wide, SQL_PIVOT_WIDE),
    "gridmet_pipeline": (q_gridmet_pipeline, SQL_GRIDMET_PIPELINE),
    "cfsv2_median_pipeline": (q_cfsv2_median_pipeline, SQL_CFSV2_MEDIAN_PIPELINE),
    "cfsv2_ensemble_pipeline": (q_cfsv2_ensemble_pipeline, SQL_CFSV2_ENSEMBLE_PIPELINE),
    "nearest_donor": (q_nearest_donor, SQL_NEAREST_DONOR),
    "fill_pipeline": (q_fill_pipeline, SQL_FILL_PIPELINE),
    "bbox_filter": (q_bbox_filter, SQL_BBOX_FILTER),
    "time_filter": (q_time_filter, SQL_TIME_FILTER),
    "catalog_lookup": (q_catalog_lookup, SQL_CATALOG_LOOKUP),
    "weight_sum_qa": (q_weight_sum_qa, SQL_WEIGHT_SUM_QA),
    "physics_rh": (q_physics_rh, SQL_PHYSICS_RH),
    "union_concat": (q_union_concat, SQL_UNION_CONCAT),
    "polygon_weights": (q_polygon_weights, SQL_POLYGON_WEIGHTS),
    "polygon_zonal_mean": (q_polygon_zonal_mean, SQL_POLYGON_ZONAL_MEAN),
}
