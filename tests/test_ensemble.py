"""A3 ensemble median + E2 concat vs numpy goldens and permutation property."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.ensemble import concat_members, ensemble_median


@pytest.fixture(scope="module")
def ens_pd(fixdir):
    return pd.read_parquet(os.path.join(fixdir, "grid_ens.parquet"))


def test_median_matches_numpy(spark, grid_ens, ens_pd):
    sub = ens_pd[(ens_pd["var"] == "tmmx") & (ens_pd["i"] == 3) & (ens_pd["j"] == 4)]
    golden = sub.groupby("time")["value"].median()
    res = (
        ensemble_median(grid_ens.filter((F.col("var") == "tmmx") & (F.col("i") == 3) & (F.col("j") == 4)))
        .toPandas()
        .set_index("time")["value"]
    )
    assert len(res) == len(golden)
    for t, ev in golden.items():
        assert res.loc[t] == pytest.approx(ev, rel=1e-12)


def test_median_permutation_invariant(spark, grid_ens):
    """Property (§5): median unchanged under member relabeling."""
    sub = grid_ens.filter(F.col("var") == "pr").filter(F.col("i") < 3)
    permuted = sub.withColumn("ens", (F.col("ens") * 7 + 3) % 48)
    a = ensemble_median(sub).withColumnRenamed("value", "a")
    b = ensemble_median(permuted).withColumnRenamed("value", "b")
    joined = a.join(b, ["var", "time", "i", "j"])
    assert joined.filter(F.abs(F.col("a") - F.col("b")) > 1e-12).count() == 0


def test_median_skips_nan_members(spark):
    """NaN members are skipped like NULL ones, as xarray's skipna median
    is: (1, 2, NaN) and (1, 2, NULL) give 1.5, an all-NaN cell NULL."""
    nan = float("nan")
    cells = {0: [1.0, 2.0, nan], 1: [1.0, 2.0, None], 2: [nan, nan, nan]}
    rows = [
        ("tmmx", "1980-01-01", 0, j, 40.0, -100.0, ens, v)
        for j, members in cells.items()
        for ens, v in enumerate(members)
    ]
    df = spark.createDataFrame(
        rows, "var string, time string, i int, j int, lat double, lon double, ens int, value double"
    )
    out = {r["j"]: r["value"] for r in ensemble_median(df).collect()}
    # numpy's all-missing median is NaN (with a warning), Spark's NULL
    with pytest.warns(RuntimeWarning, match="All-NaN"):
        golden = {j: np.nanmedian(np.array(m, dtype=float)) for j, m in cells.items()}
    assert out == {j: None if np.isnan(g) else g for j, g in golden.items()}
    assert out[0] == out[1] == 1.5


def test_concat_members_tags(spark, grid):
    base = grid.filter((F.col("var") == "pr") & (F.col("time") == F.lit("1980-01-01"))).drop("ens")
    out = concat_members([base, base, base])
    assert out.count() == 3 * base.count()
    assert sorted(r.ens for r in out.select("ens").distinct().collect()) == [0, 1, 2]
