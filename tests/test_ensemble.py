"""A3 ensemble median + E2 concat vs numpy goldens and permutation property."""

import math
import os
import random

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


def _same_bits(x, y):
    """Equal as doubles, NaN equal to NaN, and a zero's sign must match."""
    if x is None or y is None:
        return x is y
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return x == y and math.copysign(1.0, x) == math.copysign(1.0, y)


def test_median_bit_identical_to_spark_median(spark):
    """The sort-based median equals Spark's exact ``median`` bit for bit on
    1,200 seeded cells: 0-48 valid members, odd and even counts,
    duplicated middles, 5e-324, ±0.0, ±Inf, NaN and NULL members and
    all-missing cells. The table also tells it apart from the naive
    ``0.5*a + 0.5*b``, which halves two 5e-324 middles to 0.0."""
    rng = random.Random(12)
    nan, inf = float("nan"), float("inf")
    special = [5e-324, -5e-324, 1e-323, 0.0, -0.0, inf, -inf, nan, None, 1.0, -2.5, 1e308]
    cells, rows = [], []
    for c in range(1200):
        pool = rng.sample(special, rng.randint(1, 5))
        if c % 3 == 0:  # distinct ordinary values: middles rarely tie
            pool += [rng.uniform(-50.0, 50.0) for _ in range(48)]
        members = [rng.choice(pool) for _ in range(rng.randint(1, 48))]
        cells.append(members)
        rows += [("tmmx", "1980-01-01", c // 100, c % 100, 40.0, -100.0, e, v) for e, v in enumerate(members)]
    df = spark.createDataFrame(
        rows, "var string, time string, i int, j int, lat double, lon double, ens int, value double"
    ).repartition(4)
    v = F.col("value")
    ref = df.groupBy("var", "time", "i", "j").agg(F.median(F.when(~F.isnan(v), v)).alias("ref"))
    got = ensemble_median(df).join(ref, ["var", "time", "i", "j"], "full").collect()

    valid = [sorted(x for x in m if x is not None and not math.isnan(x)) for m in cells]
    counts = {len(s) for s in valid}
    assert {0, 48} <= counts and any(n % 2 for n in counts) and any(n and n % 2 == 0 for n in counts)
    assert len(got) == len(cells)
    bad = [(r["i"], r["j"], r["value"], r["ref"]) for r in got if not _same_bits(r["value"], r["ref"])]
    assert not bad, bad[:10]

    ref_by_cell = {r["i"] * 100 + r["j"]: r["ref"] for r in got}
    naive_misses = [
        c
        for c, s in enumerate(valid)
        if len(s) % 2 == 0 and s
        and not _same_bits(0.5 * s[len(s) // 2 - 1] + 0.5 * s[len(s) // 2], ref_by_cell[c])
    ]
    assert naive_misses, "no cell tells the exact median from the naive average"


def test_concat_members_tags(spark, grid):
    base = grid.filter((F.col("var") == "pr") & (F.col("time") == F.lit("1980-01-01"))).drop("ens")
    out = concat_members([base, base, base])
    assert out.count() == 3 * base.count()
    assert sorted(r.ens for r in out.select("ens").distinct().collect()) == [0, 1, 2]
