"""Area-weighted aggregation — the engine core (SURVEY §2.4 J1, §2.5 A1/A2).

``weighted_mean_wide`` is the one weighted-mean operator: both pipelines,
the contract queries and the correctness tests all run it. A single-variable
mean is the same call with one variable.

Reference semantics (the gdptools ``AggGen`` contract as configured in the
reference ``gridmet_etl/etl.py:425-433`` and ``:686-707``):

- ``stat_method="mean"`` (A1): per (feature, time), Σ w·v / Σ w over ALL the
  feature's intersecting cells. NaN-intolerant — any missing cell poisons the
  result (missing in → NULL out; this engine has always emitted SQL NULL,
  not NaN, for poisoned groups), because the denominator counts every
  weight. Assumption (ADVICE r11): weights are finite and non-NaN — wght is
  an area fraction in (0, 1] by construction. Nothing here enforces that:
  ``weight_sum_qa`` only reports per-feature Σw, and no pipeline calls it.
  So the only NaN a strict-path sum can see is the injected missing-poison;
  a NaN weight or ±Inf overflow would yield NULL where a separate
  count(missing)-guard would have returned NaN.
- ``stat_method="masked_mean"`` (A2, the ``--partial`` path, etl.py:690):
  normalizes by Σ w over NON-NULL cells only, so partial coverage still
  yields a value; all-null groups yield NULL.

Spark-first design: the weights table is tiny relative to the grid fact
(27,971 rows vs billions of cells at production scale) → explicit
``broadcast`` hash join, so at 100 TB the join is map-side with zero shuffle
of the fact table; the single shuffle is the groupBy on
(feature_id, [ens,] time), which gets map-side partial aggregation for free.
Keeping ``ens`` in the group keys turns the reference's 48 sequential
per-member pipelines (E1 anti-pattern, etl.py:361-383) into one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _is_missing(v: Column, dtype: str) -> Column:
    """NULL — and, for float types, NaN — count as missing. Ingest paths
    normalize NaN→NULL by convention, but the aggregate must not depend on
    that: a NaN double is non-NULL to SQL and would silently pass an
    isNotNull mask and poison a masked mean."""
    if dtype in ("float", "double"):
        return v.isNull() | F.isnan(v)
    return v.isNull()


def _mean_expr(v: Column, missing: Column, masked: bool, cond: Column) -> Column:
    """Σ wght·v / Σ wght over the rows where ``cond`` holds.

    ``masked`` normalizes over non-missing cells only; all-missing → NULL
    (0/0). Otherwise any missing cell poisons the group: the poison is
    folded into the sum itself (missing → NaN, which SUM propagates, unlike
    NULL, which it skips; the final projection maps NaN back to NULL)
    instead of a separate count(missing) guard buffer — one less
    aggregation buffer per group in the partial rows crossing the exchange
    (guide §2.3). A group with no missing cell sums the same terms in the
    same order as a guarded sum would, so its value is bit-for-bit equal.
    """
    w = F.col("wght")
    if masked:
        keep = cond & ~missing
        return F.sum(F.when(keep, w * v)) / F.sum(F.when(keep, w))
    num = F.sum(F.when(cond, F.when(missing, F.lit(float("nan"))).otherwise(w * v)))
    return F.when(F.isnan(num), F.lit(None)).otherwise(num) / F.sum(F.when(cond, w))


def weighted_mean_wide(
    grid: DataFrame,
    weights: DataFrame,
    variables: list[str],
    masked: bool = False,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """grid ⋈ broadcast(weights) on (i, j) → weighted mean of every
    variable in ONE groupBy((feature_id, *extra_keys, time)), by
    conditional aggregation on ``var``.

    Output: (feature_id, *extra_keys, time, <var>...), one column per
    variable. ``masked=False`` reproduces stat_method="mean" (NaN
    poisoning); ``masked=True`` reproduces "masked_mean". A missing cell of
    one variable never touches another variable's column. The DuckDB
    oracle of the ``pivot_wide`` contract query (long aggregation per
    variable, then pivot) is the independent reference for this operator.

    Exchange width (guide §2.3): each variable carries two aggregation
    buffers, because the strict path folds its missing-poison into the
    numerator sum (``_mean_expr``) instead of a third count(missing)
    buffer. On the CFSv2 398M-cell geometry the one exchange carries ~3M
    nearly-unreduced groups per map task, so partial-row width IS the
    shuffle volume. Each row's ``var`` is probed once by
    ``array_position`` into an int code that the aggregate conditions
    compare, not once per variable as a string. The ``isin`` filter stays
    string-form so parquet predicate pushdown is unaffected.
    """
    joined = grid.filter(F.col("var").isin(variables)).join(
        F.broadcast(weights), on=["i", "j"], how="inner"
    )
    vcode = F.array_position(
        F.array(*[F.lit(v) for v in variables]), F.col("var")
    )
    joined = joined.withColumn("_vi", vcode)
    keys = ["feature_id", *extra_keys, "time"]
    vmissing = _is_missing(F.col("value"), dict(grid.dtypes)["value"])
    aggs = [
        _mean_expr(F.col("value"), vmissing, masked, F.col("_vi") == (idx + 1)).alias(var)
        for idx, var in enumerate(variables)
    ]
    return joined.groupBy(*keys).agg(*aggs)


def weight_sum_qa(weights: DataFrame) -> DataFrame:
    """QA invariant A6: per-feature Σw ∈ (0, 1 + 1e-9] (BASELINE.md measured
    bounds on the real weights file)."""
    return weights.groupBy("feature_id").agg(F.sum("wght").alias("wght_sum"))
