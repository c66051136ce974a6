"""The cfsv2-etl forecast pipeline (SURVEY §3.2) as one DataFrame DAG.

Method 1 (ensemble median, etl.py:283-340): exact median across 48 members
per cell FIRST, then weighted aggregation — the median and the weighted mean
do not commute, so the order is semantic, not incidental.

Method 2 (all members, etl.py:342-383): the reference loops 48 sequential
per-member pipelines; the engine keeps ``ens`` in the join/group keys so a
single shuffle computes all members (SURVEY §2.6 E1 rewrite — the largest
headroom over the reference).

Relative humidity (helper.py:204-227) is derived from KELVIN temps + sph +
elevation BEFORE the K→°C conversion, matching the reference's order
(run_weights derives RH at etl.py:229; finalize converts at etl.py:455-464).

Spatial prune (P2): the weights table names every cell an HRU needs, so the
grid is pruned by it, never by a bbox of the features. Method 2's broadcast
join on (i, j) does that by itself; method 1 runs the median before that
join, so it first semi-joins the grid to the weighted (i, j) cells.
``features`` is read only by the fill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.physics import relative_humidity
from ..functions.units import kelvin_to_celsius
from ..operators.bbox import time_filter
from ..operators.ensemble import ensemble_median
from ..operators.fill import fill_missing
from ..operators.weighted_agg import weighted_mean_wide
from ..schemas import CFSV2_VARS


def _finalize(wide: DataFrame, elevation: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """RH physics (on Kelvin) → rename → K→°C. elevation joined on
    feature_id (J5; broadcast — one row per feature)."""
    with_elev = wide.join(
        F.broadcast(elevation.select("feature_id", "hru_elev")), "feature_id", "left"
    )
    out = with_elev.select(
        *keys,
        kelvin_to_celsius("tmmx").alias("tmax"),
        kelvin_to_celsius("tmmn").alias("tmin"),
        F.col("pr").alias("prcp"),
        relative_humidity("tmmx", "tmmn", "sph", "hru_elev").alias("humidity"),  # F3-F5
    )
    return out


def cfsv2_median_pipeline(
    grid_ens: DataFrame,
    weights: DataFrame,
    elevation: DataFrame,
    features: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    fill: bool = False,
) -> DataFrame:
    """Method 1: ensemble median per cell → weighted mean → wide
    (feature_id, time, tmax, tmin, prcp, humidity). Only the weighted cells
    reach the median shuffle."""
    source_vars = [v[0] for v in CFSV2_VARS.values()]
    grid_ens = time_filter(grid_ens, start_date, end_date)
    cells = grid_ens.filter(F.col("var").isin(source_vars)).join(
        F.broadcast(weights.select("i", "j")), on=["i", "j"], how="left_semi"
    )  # P2
    med = ensemble_median(cells)  # A3
    wide = weighted_mean_wide(med, weights, source_vars)  # J1+A1, one shuffle
    out = _finalize(wide, elevation, keys=("feature_id", "time"))
    if fill:
        out, _ = fill_missing(out, features)
    return out


def cfsv2_ensemble_pipeline(
    grid_ens: DataFrame,
    weights: DataFrame,
    elevation: DataFrame,
    features: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    fill: bool = False,
) -> DataFrame:
    """Method 2: all 48 members in one pass → wide
    (feature_id, ens, time, tmax, tmin, prcp, humidity); write with
    ``partitionBy("ens")`` to reproduce the per-member file layout."""
    source_vars = [v[0] for v in CFSV2_VARS.values()]
    grid_ens = time_filter(grid_ens, start_date, end_date)
    wide = weighted_mean_wide(
        grid_ens, weights, source_vars, extra_keys=("ens",)
    )  # E1 rewrite: all 48 members + all vars in one shuffle
    out = _finalize(wide, elevation, keys=("feature_id", "ens", "time"))
    if fill:
        out, _ = fill_missing(out, features)
    return out
