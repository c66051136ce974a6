"""End-to-end pipeline goldens: full gridmet + cfsv2 runs vs an independent
pandas implementation (SURVEY §5 item 3), schema asserted against the golden
headers (gm_header.md:8-84, cfsv2_*_header.md)."""

import datetime
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.fill import fill_missing
from gridmet_etl_spark.plans.cfsv2 import cfsv2_ensemble_pipeline, cfsv2_median_pipeline
from gridmet_etl_spark.plans.gridmet import gridmet_pipeline
from gridmet_etl_spark.schemas import FEATURES_SCHEMA, GRID_SCHEMA, WEIGHTS_SCHEMA


def _pd_weighted(g, w, masked):
    sub = g.merge(w, on=["i", "j"])
    def agg(grp):
        v, wt = grp["value"].to_numpy(), grp["wght"].to_numpy()
        if masked:
            m = ~np.isnan(v)
            return np.nan if m.sum() == 0 else (wt[m] * v[m]).sum() / wt[m].sum()
        return np.nan if np.isnan(v).any() else (wt * v).sum() / wt.sum()
    return sub.groupby(["var", "feature_id", "time"]).apply(agg, include_groups=False)


def test_gridmet_pipeline_golden(spark, grid, weights, fixdir):
    res = gridmet_pipeline(grid, weights, partial=True).toPandas()
    assert sorted(res.columns) == sorted(
        ["feature_id", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"]
    )
    g = pd.read_parquet(os.path.join(fixdir, "grid.parquet"))
    w = pd.read_parquet(os.path.join(fixdir, "weights.parquet"))
    golden = _pd_weighted(g, w, masked=True)
    r = res.set_index(["feature_id", "time"]).sort_index()
    for (fid, t) in list(r.index)[:50]:
        exp_tmax = golden.loc[("tmmx", fid, t)] - 273.15
        got = r.loc[(fid, t), "tmax"]
        if np.isnan(exp_tmax):
            assert np.isnan(got)
        else:
            assert got == pytest.approx(exp_tmax, rel=1e-12)
        exp_h = (golden.loc[("rmin", fid, t)] + golden.loc[("rmax", fid, t)]) / 2.0
        got_h = r.loc[(fid, t), "humidity"]
        if np.isnan(exp_h):
            assert np.isnan(got_h)
        else:
            assert got_h == pytest.approx(exp_h, rel=1e-12)


def test_gridmet_time_filter(spark, grid, weights):
    res = gridmet_pipeline(grid, weights, start_date="1980-01-02", end_date="1980-01-03")
    days = sorted(r.time.isoformat() for r in res.select("time").distinct().collect())
    assert days == ["1980-01-02", "1980-01-03"]


@pytest.mark.parametrize("pipeline", ["gridmet", "cfsv2_median", "cfsv2_ensemble"])
@pytest.mark.parametrize(
    "dates, match",
    [
        (dict(start_date="1980-01-02"), "go together"),
        (dict(end_date="1980-01-03"), "go together"),
        (dict(start_date="1980-01-03", end_date="1980-01-02"), "is after"),
    ],
    ids=["start_only", "end_only", "reversed"],
)
def test_pipelines_reject_bad_date_range(
    spark, grid, weights, grid_ens, weights_ens, elevation, pipeline, dates, match
):
    """A one-sided range would silently keep every landed day and a reversed
    one none; every pipeline raises while it is built, before any job."""
    build = {
        "gridmet": lambda: gridmet_pipeline(grid, weights, **dates),
        "cfsv2_median": lambda: cfsv2_median_pipeline(grid_ens, weights_ens, elevation, **dates),
        "cfsv2_ensemble": lambda: cfsv2_ensemble_pipeline(
            grid_ens, weights_ens, elevation, **dates
        ),
    }[pipeline]
    with pytest.raises(ValueError, match=match):
        build()


def test_cfsv2_median_pipeline_golden(spark, grid_ens, weights_ens, elevation, fixdir):
    res = cfsv2_median_pipeline(grid_ens, weights_ens, elevation).toPandas()
    assert sorted(res.columns) == sorted(["feature_id", "time", "tmax", "tmin", "prcp", "humidity"])
    # golden: pandas median over ens, then weighted mean, then physics
    g = pd.read_parquet(os.path.join(fixdir, "grid_ens.parquet"))
    w = pd.read_parquet(os.path.join(fixdir, "weights_ens.parquet"))
    e = pd.read_parquet(os.path.join(fixdir, "elevation.parquet"))
    med = g.groupby(["var", "time", "i", "j"], as_index=False)["value"].median()
    golden = _pd_weighted(med, w, masked=False)
    r = res.set_index(["feature_id", "time"]).sort_index()
    elev_map = e.set_index("feature_id")["hru_elev"]
    for (fid, t) in list(r.index)[:30]:
        tmx = golden.loc[("tmmx", fid, t)]
        tmn = golden.loc[("tmmn", fid, t)]
        sph = golden.loc[("sph", fid, t)]
        assert r.loc[(fid, t), "tmax"] == pytest.approx(tmx - 273.15, rel=1e-12)
        t_avg = (tmx + tmn) / 2
        p = 1013.25 * np.exp(-9.80665 * elev_map[fid] / (287.05 * t_avg))
        es = 6.1094 * np.exp(17.625 * (t_avg - 273.15) / ((t_avg - 273.15) + 243.04))
        rh = sph * p / 0.622 / es * 100.0
        assert r.loc[(fid, t), "humidity"] == pytest.approx(rh, rel=1e-10)


def test_cfsv2_ensemble_pipeline_shape(spark, grid_ens, weights_ens, elevation):
    res = cfsv2_ensemble_pipeline(grid_ens, weights_ens, elevation)
    assert sorted(res.columns) == sorted(
        ["feature_id", "ens", "time", "tmax", "tmin", "prcp", "humidity"]
    )
    n_feat = weights_ens.select("feature_id").distinct().count()
    n_days = grid_ens.select("time").distinct().count()
    assert res.count() == n_feat * 48 * n_days
    # member 0 of the ensemble pipeline == single-member pipeline slice
    m0 = res.filter(F.col("ens") == 0)
    assert m0.count() == n_feat * n_days


def test_ensemble_median_consistency(spark, grid_ens, weights_ens, elevation):
    """Aggregating the median-of-members lies within the per-member envelope."""
    med = cfsv2_median_pipeline(grid_ens, weights_ens, elevation)
    ens = cfsv2_ensemble_pipeline(grid_ens, weights_ens, elevation)
    env = ens.groupBy("feature_id", "time").agg(
        F.min("tmax").alias("lo"), F.max("tmax").alias("hi")
    )
    bad = (
        med.join(env, ["feature_id", "time"])
        .filter((F.col("tmax") < F.col("lo") - 1e-9) | (F.col("tmax") > F.col("hi") + 1e-9))
        .count()
    )
    assert bad == 0


EDGE_RUNS = {
    "gridmet_strict": ((-1,), lambda g, w, f, e: gridmet_pipeline(g, w, f)),
    "gridmet_partial": ((-1,), lambda g, w, f, e: gridmet_pipeline(g, w, f, partial=True)),
    "cfsv2_median": ((0, 1, 2), lambda g, w, f, e: cfsv2_median_pipeline(g, w, e, f)),
}


@pytest.mark.parametrize("run", list(EDGE_RUNS))
def test_edge_hru_keeps_all_weighted_cells(spark, run):
    """An HRU three 1/4° cells wide, centroid on the middle cell: the outer
    cells lie a whole cell past the centroid, farther than a one-cell
    (1/24°) buffer around a centroid bbox reaches. Every weighted cell must
    count: (10 + 20 + 90) / 3 = 40, not the middle cell's 20."""
    members, build = EDGE_RUNS[run]
    day = datetime.date(1980, 1, 1)
    cells = [(-100.25, 10.0), (-100.0, 20.0), (-99.75, 90.0)]
    # members spread ±1 around the cell value, so their median is the value
    grid = spark.createDataFrame(
        [
            ("pr", ens, day, 0, j, 40.0, lon, v + (ens - members[len(members) // 2]))
            for ens in members
            for j, (lon, v) in enumerate(cells)
        ],
        GRID_SCHEMA,
    )
    weights = spark.createDataFrame([(1, 0, j, 1 / 3) for j in range(3)], WEIGHTS_SCHEMA)
    features = spark.createDataFrame([(1, 40.0, -100.0, None)], FEATURES_SCHEMA)
    elevation = spark.createDataFrame([(1, 1000.0)], "feature_id long, hru_elev double")
    rows = build(grid, weights, features, elevation).select("prcp").collect()
    assert len(rows) == 1
    assert rows[0].prcp == pytest.approx(40.0, rel=1e-12)


def test_pipeline_build_runs_no_spark_job(
    spark, grid, weights, grid_ens, weights_ens, elevation, features
):
    """Building each pipeline with ``features`` is lazy: the spatial prune
    is the weights join, so no job runs before the caller writes."""
    sc = spark.sparkContext
    group = "test_pipeline_build_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        gridmet_pipeline(grid, weights, features, partial=True)
        cfsv2_median_pipeline(grid_ens, weights_ens, elevation, features)
        cfsv2_ensemble_pipeline(grid_ens, weights_ens, elevation, features)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_filled_pipeline_build_runs_no_spark_job(
    spark, grid, weights, grid_ens, weights_ens, elevation, features
):
    """The fill is lazy too: the first timestep is a semi-join against
    min(time), not a driver collect, and an empty missing set needs no
    isEmpty() probe, so building a filled pipeline runs no job."""
    sc = spark.sparkContext
    group = "test_filled_pipeline_build_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        gm = gridmet_pipeline(grid, weights, features, partial=True, fill=True)
        cfsv2_median_pipeline(grid_ens, weights_ens, elevation, features, fill=True)
        cfsv2_ensemble_pipeline(grid_ens, weights_ens, elevation, features, fill=True)
        fill_missing(gm, features)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
