"""Missing-data subsystem (SURVEY §2.4 J2/J3, §2.3 P5/P6, §2.7 O1).

Reference: ``fill_onhm_ncf`` (/root/reference/gridmet_etl/helper.py:9-122):
evaluate missingness on the FIRST timestep only (helper.py:45), split
features into missing/present point sets, ``sjoin_nearest`` (k=1 with
distance, helper.py:72), persist the mapping CSV, then scatter-copy every
variable's full series from donor to missing feature (helper.py:85-90).

Spark design — one strategy, fully lazy: building a fill launches no Spark
job. ``nearest_donor`` is an exact broadcast cross join of missing ×
present features + distance + window top-1; both sides are feature tables
(the real domain is ~10⁵ HRUs with few missing), so no spatial
bucketing is needed, and the scatter runs on the features × days output.
The first timestep is found by a broadcast semi-join against
``min(time)``, not a driver collect, and an empty missing set needs no
special case: it yields an empty map, and ``scatter_fill`` then returns
the output unchanged.

Distance is squared-euclidean on (lat, lon) degrees — monotonic with
geopandas' euclidean sjoin_nearest on the same flat coordinates, so the
argmin (and thus the mapping) matches the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def missingness_split(output_long: DataFrame, features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P5/P6: classify features by null-ness of their value at the first
    timestep (the reference probes one variable at the first date only,
    helper.py:45). Features absent from the output entirely (no weights)
    count as missing — the reference sees those as all-NaN series.

    The probed value is the first non-key column. Returns
    (missing_features, present_features), both with feature_id/lat/lon.
    """
    value_col = next(c for c in output_long.columns if c not in ("feature_id", "ens", "time"))
    first_time = output_long.agg(F.min("time").alias("time"))
    first = output_long.join(F.broadcast(first_time), "time", "left_semi")
    present_ids = first.filter(F.col(value_col).isNotNull()).select("feature_id").distinct()
    missing = features.join(present_ids, "feature_id", "left_anti")
    present = features.join(present_ids, "feature_id", "left_semi")
    return missing, present


def nearest_donor(missing: DataFrame, present: DataFrame) -> DataFrame:
    """J2/O1: exact k=1 nearest neighbor with distance via broadcast cross
    join + window rank. Output: (missing_id, donor_id, distance).

    Ties broken by smallest donor_id for determinism (geopandas keeps first
    occurrence; our fixtures have no exact ties).
    """
    m = missing.select(
        F.col("feature_id").alias("missing_id"),
        F.col("lat").alias("m_lat"),
        F.col("lon").alias("m_lon"),
    )
    p = present.select(
        F.col("feature_id").alias("donor_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    )
    dist2 = (F.col("m_lat") - F.col("p_lat")) ** 2 + (F.col("m_lon") - F.col("p_lon")) ** 2
    w = Window.partitionBy("missing_id").orderBy(F.col("distance"), F.col("donor_id"))
    return (
        m.crossJoin(F.broadcast(p))
        .withColumn("distance", F.sqrt(dist2))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("missing_id", "donor_id", "distance")
    )


def scatter_fill(output_long: DataFrame, fill_map: DataFrame) -> DataFrame:
    """J3: copy each donor's full (var, [ens,] time) series onto its missing
    feature — the reference's `.loc[{fid: miss}] = .loc[{fid: fill}]`
    scatter-assign (helper.py:85-90), as a broadcast join + union.

    Donor series for missing features REPLACE their rows entirely (the
    reference overwrites the whole series, not just nulls).
    """
    value_keys = [c for c in output_long.columns if c not in ("feature_id",)]
    donors = output_long.join(
        F.broadcast(fill_map.select("missing_id", "donor_id")),
        output_long.feature_id == F.col("donor_id"),
        "inner",
    ).select(F.col("missing_id").alias("feature_id"), *value_keys)
    kept = output_long.join(
        F.broadcast(fill_map.select(F.col("missing_id").alias("feature_id"))),
        "feature_id",
        "left_anti",
    )
    return kept.unionByName(donors)


def read_fill_map(spark, path: str) -> DataFrame:
    """S8: reload a persisted nearest-neighbor mapping CSV (helper.py:79) —
    the reference's genmap=False reuse path; pass the result to
    ``scatter_fill`` to skip re-deriving the J2 join."""
    raw = spark.read.csv(path, header=True, inferSchema=False)
    return raw.select(
        F.col("missing_id").cast("long"),
        F.col("donor_id").cast("long"),
        F.col("distance").cast("double"),
    )


def fill_missing(
    output_long: DataFrame, features: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Full fill pipeline (--fill-missing, helper.py:9-122): split → nearest
    → scatter. Features with NO output at all (the reference's NetCDF has
    an all-NaN row for them; long form simply has no rows) get their
    donor's series too. Returns (filled_output, fill_map); the caller
    persists the map (K3, ``sources.writers.write_fill_map_csv``).

    Idempotence property (§5): a second pass finds no missing features,
    so its map is empty and the output passes through unchanged.
    """
    if features is None:
        raise ValueError("the fill requires the features table")
    missing, present = missingness_split(output_long, features)
    nn = nearest_donor(missing, present)
    return scatter_fill(output_long, nn), nn
