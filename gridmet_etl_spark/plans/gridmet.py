"""The gridmet-etl pipeline (SURVEY §3.1) as ONE lazy DataFrame DAG.

Reference lifecycle: initialize (feature/catalog scans, P1 per-var lookup) →
run_weights (OPeNDAP fetch + serial weighted agg → NetCDF) → finalize
(rename, K→°C, humidity, optional fill) — etl.py:589-791. Here the whole
chain is declared lazily and planned by Catalyst; nothing materializes until
the caller writes or collects.

Scale notes: grid is the 100 TB fact side → only filters and one broadcast
join touch it before the single groupBy shuffle, which emits every
variable's mean as a column; the renames and physics run on that already
small (|features| × |days|) result.

Spatial prune: the inner broadcast join on (i, j) keeps exactly the cells
the weights table names, so no bbox step runs before it. A bbox of the
features would be a lossy stand-in for that set (an HRU can reach past its
centroid's buffered box) and would cost an eager job to compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.physics import mean_humidity
from ..functions.units import kelvin_to_celsius
from ..operators.bbox import time_filter
from ..operators.fill import fill_missing
from ..operators.weighted_agg import weighted_mean_wide
from ..schemas import GRIDMET_VARS


def gridmet_pipeline(
    grid: DataFrame,
    weights: DataFrame,
    features: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    partial: bool = False,
    fill: bool = False,
    bug_compat_humidity: bool = False,
) -> DataFrame:
    """grid × weights → wide per-HRU daily series
    (feature_id, time, tmax, tmin, prcp, rhmax, rhmin, ws, humidity), units
    converted (K→°C) and humidity derived, matching the reference's
    `*_converted.nc` content (etl.py:712-755).

    ``partial`` selects masked_mean (--partial, cli.py:83-89);
    ``fill`` runs the nearest-neighbor fill (--fill-missing), the only step
    that reads ``features``. The grid is pruned to the weighted cells by the
    weights join itself (P2).
    """
    source_vars = [v[0] for v in GRIDMET_VARS.values()]
    grid = time_filter(grid, start_date, end_date)  # P3

    # one shuffle: every variable's mean in one conditional aggregation
    wide = weighted_mean_wide(grid, weights, source_vars, masked=partial)
    rename = {src: short for short, (src, *_rest) in GRIDMET_VARS.items()}
    for src, dst in rename.items():  # P9
        wide = wide.withColumnRenamed(src, dst)

    wide = wide.select(
        "feature_id",
        "time",
        kelvin_to_celsius("tmax").alias("tmax"),  # F1
        kelvin_to_celsius("tmin").alias("tmin"),
        F.col("prcp"),
        F.col("rhmax"),
        F.col("rhmin"),
        F.col("ws"),
        mean_humidity("rhmin", "rhmax", bug_compat=bug_compat_humidity).alias("humidity"),  # F2
    )

    if fill:
        wide, _ = fill_missing(wide, features)
    return wide
