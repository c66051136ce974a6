"""J2/J3 missing-data subsystem: nearest-neighbor golden (brute-force numpy
argmin, FIXTURES.md §7), scatter-fill semantics, idempotence property."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.fill import (
    fill_missing,
    missingness_split,
    nearest_donor,
    scatter_fill,
)
from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide
from gridmet_etl_spark.plans.gridmet import gridmet_pipeline


@pytest.fixture(scope="module")
def output_long(spark, grid, weights):
    return weighted_mean_wide(grid, weights, ["tmmx"], masked=True).withColumnRenamed("tmmx", "value").cache()


def _numpy_nearest(missing_pd, present_pd):
    out = {}
    for _, m in missing_pd.iterrows():
        d2 = (present_pd["lat"] - m["lat"]) ** 2 + (present_pd["lon"] - m["lon"]) ** 2
        k = d2.idxmin()
        out[int(m["feature_id"])] = (int(present_pd.loc[k, "feature_id"]), float(np.sqrt(d2.loc[k])))
    return out


def test_missingness_split(spark, output_long, features):
    missing, present = missingness_split(output_long, features)
    # the 5 weight-less features (FIXTURES.md §4) must be missing
    missing_ids = {r.feature_id for r in missing.select("feature_id").collect()}
    assert {46, 47, 48, 49, 50} <= missing_ids
    assert missing.count() + present.count() == features.count()


@pytest.mark.parametrize("fn", [nearest_donor])
def test_nearest_matches_bruteforce(spark, output_long, features, fn):
    missing, present = missingness_split(output_long, features)
    res = {r.missing_id: (r.donor_id, r.distance) for r in fn(missing, present).collect()}
    golden = _numpy_nearest(missing.toPandas(), present.toPandas())
    assert set(res) == set(golden)
    for mid, (did, dist) in golden.items():
        assert res[mid][0] == did
        assert res[mid][1] == pytest.approx(dist, rel=1e-12)


def test_scatter_fill_copies_donor_series(spark, output_long, features):
    missing, present = missingness_split(output_long, features)
    nn = nearest_donor(missing, present)
    filled = scatter_fill(output_long, nn)
    pair = nn.limit(1).collect()[0]
    donor_series = (
        output_long.filter(F.col("feature_id") == pair.donor_id)
        .orderBy("time")
        .select("time", "value")
        .collect()
    )
    filled_series = (
        filled.filter(F.col("feature_id") == pair.missing_id)
        .orderBy("time")
        .select("time", "value")
        .collect()
    )
    assert [r.value for r in filled_series] == [r.value for r in donor_series]


def test_fill_idempotent(spark, grid, weights, features):
    """Property (§5): a second fill pass finds nothing to fill."""
    wide = gridmet_pipeline(grid, weights, partial=True)
    filled, fmap = fill_missing(wide, features)
    assert fmap.count() > 0
    filled2, fmap2 = fill_missing(filled, features)
    assert fmap2.filter(F.col("donor_id").isNotNull()).count() == 0
    assert filled2.count() == filled.count()


def test_fill_produces_complete_feature_set(spark, grid, weights, features):
    wide = gridmet_pipeline(grid, weights, partial=True, features=features, fill=True)
    got = {r.feature_id for r in wide.select("feature_id").distinct().collect()}
    assert got == {r.feature_id for r in features.select("feature_id").collect()}
