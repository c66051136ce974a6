"""Ensemble operators (SURVEY §2.5 A3, §2.6 E1/E2).

Reference: CFSv2 method 1 takes the exact median across the 48-member
``ens`` dimension per (time, lat, lon) cell (etl.py:296-298); method 2
processes all members (etl.py:361-383, a sequential loop we replace by
keeping ``ens`` in the aggregation keys — see weighted_agg).

Spark design: one groupBy over the cell keys collects each cell's members
into a list (``collect_list``), so the single exchange carries at most 48
doubles per cell and the state per group is bounded by the ensemble size.
The median is then row-local: ``sort_array`` the list and pick or average
its middle element(s) exactly as Spark's ``percentile(…, 0.5)`` does. That
replaces ``F.median``, whose interpreted ``Percentile`` aggregate keeps a
boxed-key hash map per cell and has an expensive final merge. At 100 TB
the shuffle key (var, time, i, j) is high-cardinality and uniform → no
skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sorted_median(vals: Column) -> Column:
    """Median of an ascending, NULL-free double array; NULL when empty.

    Same arithmetic as Spark's ``Percentile.getPercentile`` at 0.5: one
    middle, or two equal middles, is returned as it is; otherwise
    ``0.5*a + 0.5*b``. Averaging equal middles would not be exact: two
    5e-324 middles give 0.0. ``F.get`` is 0-based and NULL out of range
    (``element_at(…, 0)`` raises, even as ``try_element_at``).
    """
    n = F.size(vals)
    lo_i, hi_i = F.shiftright(n - 1, 1), F.shiftright(n, 1)
    a, b = F.get(vals, lo_i), F.get(vals, hi_i)
    return F.when((lo_i == hi_i) | (a == b), a).otherwise(a * 0.5 + b * 0.5)


def ensemble_median(grid_ens: DataFrame) -> DataFrame:
    """Exact median over the ensemble axis per (var, time, i, j) cell.

    Keeps lat/lon via first() (functionally dependent on i/j).
    Reproduces `ds[key].median(dim="ens")` (etl.py:296-297), whose default
    skipna=True (float dtypes) skips NaN members. ``collect_list`` skips
    NULL but ``sort_array`` sorts NaN above every number, so NaN is nulled
    first: ingest maps
    NaN→NULL only by convention (as ``weighted_agg._is_missing`` notes),
    and an all-NaN cell's median is NULL. Bit-identical to
    ``F.median(F.when(~F.isnan(value), value))``.
    """
    v = F.col("value")
    return grid_ens.groupBy("var", "time", "i", "j").agg(
        F.first("lat").alias("lat"),
        F.first("lon").alias("lon"),
        _sorted_median(F.sort_array(F.collect_list(F.when(~F.isnan(v), v)))).alias("value"),
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
