"""Area-weighted aggregation — the engine core (SURVEY §2.4 J1, §2.5 A1/A2).

Reference semantics (the gdptools ``AggGen`` contract as configured at
/root/reference/gridmet_etl/etl.py:425-433 and :686-707):

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


def _mean_expr(
    v: Column, missing: Column, masked: bool, cond: Column | None = None
) -> Column:
    """Σ wght·v / Σ wght over the rows where ``cond`` holds (all rows when
    it is None).

    ``masked`` normalizes over non-missing cells only; all-missing → NULL
    (0/0). Otherwise any missing cell poisons the group: the poison is
    folded into the sum itself (missing → NaN, which SUM propagates, unlike
    NULL, which it skips; the final projection maps NaN back to NULL)
    instead of a separate count(missing) guard buffer — one less
    aggregation buffer per group in the partial rows crossing the exchange
    (guide §2.3). A group with no missing cell sums the identical terms in
    the identical order, so its output is bit-for-bit the guarded plan's
    (r11).
    """
    w = F.col("wght")

    def only(x: Column) -> Column:
        return x if cond is None else F.when(cond, x)

    if masked:
        keep = ~missing if cond is None else cond & ~missing
        return F.sum(F.when(keep, w * v)) / F.sum(F.when(keep, w))
    num = F.sum(only(F.when(missing, F.lit(float("nan"))).otherwise(w * v)))
    return F.when(F.isnan(num), F.lit(None)).otherwise(num) / F.sum(only(w))


def weighted_mean(
    grid: DataFrame,
    weights: DataFrame,
    extra_keys: tuple[str, ...] = (),
    masked: bool = False,
) -> DataFrame:
    """grid ⋈ broadcast(weights) on (i, j) → weighted mean per
    (feature_id, *extra_keys, time).

    Returns columns ``feature_id, *extra_keys, time, value``.
    ``masked=False`` reproduces stat_method="mean" (NaN poisoning);
    ``masked=True`` reproduces "masked_mean".
    """
    joined = grid.join(F.broadcast(weights), on=["i", "j"], how="inner")
    keys = ["feature_id", *extra_keys, "time"]
    missing = _is_missing(F.col("value"), dict(grid.dtypes)["value"])
    return joined.groupBy(*keys).agg(
        _mean_expr(F.col("value"), missing, masked).alias("value")
    )


def weighted_mean_all_vars(
    grid: DataFrame,
    weights: DataFrame,
    variables: list[str] | None = None,
    masked: bool = False,
) -> DataFrame:
    """Long-form multi-variable weighted mean: one shuffle computes every
    variable at once.

    Output: ``feature_id, var, time, value``.
    """
    if variables is not None:
        grid = grid.filter(F.col("var").isin(variables))  # P7 projection
    return weighted_mean(grid, weights, extra_keys=("var",), masked=masked)


def weighted_mean_wide(
    grid: DataFrame,
    weights: DataFrame,
    variables: list[str],
    masked: bool = False,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Single-shuffle wide weighted mean: conditional aggregation computes
    every variable's weighted mean in ONE groupBy((feature_id, *extra_keys,
    time)) — versus the long-agg→pivot path, which shuffles twice
    (once on (…, var, time), once on (…, time)).

    At 100 TB this halves shuffle volume for the pipeline's dominant stage;
    semantics are identical to ``weighted_mean_all_vars`` + ``pivot_wide``
    (asserted by tests). Output: (feature_id, *extra_keys, time, <var>...).

    r11 exchange-narrowing (guide §2.3), output bit-identical:

    - The strict path's missing-poison guard is folded INTO the numerator
      sum: a missing value contributes NaN (which SQL SUM propagates,
      unlike NULL, which it skips), and the final projection maps a NaN
      sum back to NULL. That drops the third aggregation buffer per
      variable (``count(missing)``) — partial rows shrink from 3 to 2
      buffers per variable, and on the CFSv2 398M-cell geometry the ONE
      exchange this operator performs carries ~3M nearly-unreduced groups
      per map task, so partial-row width IS the shuffle volume.
      Equivalence: NaN poisons exactly the groups the old guard nulled
      (any missing value in the group → NaN sum → NULL out; a group whose
      rows are all non-missing sums the same terms in the same order).
    - The per-variable ``var == '<name>'`` STRING comparisons (3 per
      variable per row in the old agg, 12 for CFSv2's 4 vars) collapse to
      ONE ``array_position`` string probe per row projecting an int code;
      the aggregate conditions compare that int. The ``isin`` filter
      stays string-form so parquet predicate pushdown is unaffected.
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
