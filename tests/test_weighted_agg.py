"""A1/A2/J1 correctness vs an independent pandas/numpy golden."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.weighted_agg import weight_sum_qa, weighted_mean_wide

GRIDMET_SRC = ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"]


@pytest.fixture(scope="module")
def golden(fixdir):
    g = pd.read_parquet(os.path.join(fixdir, "grid.parquet"))
    w = pd.read_parquet(os.path.join(fixdir, "weights.parquet"))
    return g, w


def _golden_weighted(g, w, var, masked):
    sub = g[g["var"] == var].merge(w, on=["i", "j"])
    out = {}
    for (fid, t), grp in sub.groupby(["feature_id", "time"]):
        v, wt = grp["value"].to_numpy(), grp["wght"].to_numpy()
        if masked:
            m = ~np.isnan(v)
            out[(fid, t)] = np.nan if m.sum() == 0 else (wt[m] * v[m]).sum() / wt[m].sum()
        else:
            out[(fid, t)] = np.nan if np.isnan(v).any() else (wt * v).sum() / wt.sum()
    return out


@pytest.mark.parametrize("masked", [False, True])
def test_weighted_mean_matches_numpy(spark, grid, weights, golden, masked):
    """Each column of ONE six-variable call equals its own numpy golden,
    so a missing cell of one variable never reaches another's column."""
    g, w = golden
    wide = (
        weighted_mean_wide(grid, weights, GRIDMET_SRC, masked=masked)
        .toPandas()
        .set_index(["feature_id", "time"])
    )
    for var in GRIDMET_SRC:
        res = wide[var]
        exp = _golden_weighted(g, w, var, masked)
        assert len(res) == len(exp)
        for k, ev in exp.items():
            rv = res.loc[k]
            if np.isnan(ev):
                assert np.isnan(rv), f"{var} {k}: expected NaN, got {rv}"
            else:
                assert rv == pytest.approx(ev, rel=1e-12), (var, k)


def test_strict_mean_poisons_on_null(spark, grid, weights):
    """A1: any NULL cell in a group → NULL result (NaN-intolerant mean)."""
    strict = weighted_mean_wide(grid, weights, ["pr"], masked=False).withColumnRenamed("pr", "value")
    masked = weighted_mean_wide(grid, weights, ["pr"], masked=True).withColumnRenamed("pr", "value")
    n_null_strict = strict.filter(F.col("value").isNull()).count()
    n_null_masked = masked.filter(F.col("value").isNull()).count()
    assert n_null_strict > 0  # fixtures have ~2% null cells
    assert n_null_masked < n_null_strict  # masked recovers partial coverage


def test_masked_equals_strict_when_no_nulls(spark, grid, weights):
    """Property (§5): masked_mean == mean on null-free input."""
    clean = grid.filter(F.col("var") == "tmmx").filter(F.col("value").isNotNull())
    a = weighted_mean_wide(clean, weights, ["tmmx"], masked=False).withColumnRenamed("tmmx", "a")
    b = weighted_mean_wide(clean, weights, ["tmmx"], masked=True).withColumnRenamed("tmmx", "b")
    diff = (
        a.join(b, ["feature_id", "time"])
        .filter(F.abs(F.col("a") - F.col("b")) > 1e-12)
        .count()
    )
    assert diff == 0


def test_weight_sum_invariant(spark, weights):
    """A6/BASELINE invariant: per-feature Σw ∈ (0.8, 1 + 1e-9]."""
    qa = weight_sum_qa(weights).toPandas()
    assert (qa["wght_sum"] > 0.8).all()
    assert (qa["wght_sum"] <= 1.0 + 1e-9).all()


def test_broadcast_join_in_plan(spark, grid, weights):
    """The weights join must be a broadcast hash join (map-side, no fact
    shuffle) — the core scale property."""
    plan = weighted_mean_wide(grid, weights, GRIDMET_SRC)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_nan_counts_as_missing(spark):
    """A NaN double is non-NULL to SQL but must behave exactly like a
    missing cell: masked mean excludes it, strict mean poisons to NULL."""
    grid = spark.createDataFrame(
        [
            (0, 0, "v", "2024-01-01", 1.0),
            (0, 1, "v", "2024-01-01", float("nan")),
            (1, 0, "v", "2024-01-01", float("nan")),
            (1, 1, "v", "2024-01-01", float("nan")),
        ],
        "i int, j int, var string, time string, value double",
    )
    weights = spark.createDataFrame(
        [(10, 0, 0, 0.5), (10, 0, 1, 0.5), (11, 1, 0, 0.5), (11, 1, 1, 0.5)],
        "feature_id long, i int, j int, wght double",
    )
    masked = {
        r.feature_id: r.value
        for r in weighted_mean_wide(grid, weights, ["v"], masked=True)
        .withColumnRenamed("v", "value")
        .collect()
    }
    assert masked[10] == pytest.approx(1.0)  # NaN cell excluded from both sums
    assert masked[11] is None  # all-missing -> NULL
    strict = {
        r.feature_id: r.value
        for r in weighted_mean_wide(grid, weights, ["v"], masked=False)
        .withColumnRenamed("v", "value")
        .collect()
    }
    assert strict[10] is None and strict[11] is None  # NaN poisons
