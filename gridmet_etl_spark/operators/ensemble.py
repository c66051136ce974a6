"""Ensemble operators (SURVEY §2.5 A3, §2.6 E1/E2).

Reference: CFSv2 method 1 takes the exact median across the 48-member
``ens`` dimension per (time, lat, lon) cell (etl.py:296-298); method 2
processes all members (etl.py:361-383, a sequential loop we replace by
keeping ``ens`` in the aggregation keys — see weighted_agg).

Spark design: ``median`` (exact, Spark ≥3.4) in a groupBy over the cell
keys. Group size is fixed at 48 → bounded state per group, partial_merge
friendly. At 100 TB the shuffle key (var, time, i, j) is high-cardinality
and uniform → no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensemble_median(grid_ens: DataFrame) -> DataFrame:
    """Exact median over the ensemble axis per (var, time, i, j) cell.

    Keeps lat/lon via first() (functionally dependent on i/j).
    Reproduces `ds[key].median(dim="ens")` (etl.py:296-297), whose default
    skipna=True (float dtypes) skips NaN members. SQL median skips NULL but
    sorts NaN above every number, so NaN is nulled first: ingest maps
    NaN→NULL only by convention (as ``weighted_agg._is_missing`` notes),
    and an all-NaN cell's median is NULL.
    """
    v = F.col("value")
    return grid_ens.groupBy("var", "time", "i", "j").agg(
        F.first("lat").alias("lat"),
        F.first("lon").alias("lon"),
        F.median(F.when(~F.isnan(v), v)).alias("value"),
    )


def concat_members(members: list[DataFrame], tag_col: str = "ens") -> DataFrame:
    """E2: xr.concat(dim="ens") analogue — UNION ALL with a member tag.

    Reference builds this from 48 per-member files (etl.py:355-357); in the
    engine the long form usually arrives pre-tagged, making this a no-op.
    """
    tagged = [df.withColumn(tag_col, F.lit(n)) for n, df in enumerate(members)]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df)
    return out
