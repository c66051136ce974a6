"""CLI end-to-end runs, writer layout/sidecar, ingest-job plumbing with an
injected synthetic fetcher, real-bytes NetCDF export."""

import json
import os
import datetime as dt
from datetime import date

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.cli import main, valid_date
from gridmet_etl_spark.sources.ingest import TASK_SCHEMA, build_slice_tasks, fetch_grid, ingest_to_parquet
from gridmet_etl_spark.sources.writers import export_netcdf, write_output


def test_valid_date():
    import argparse

    assert valid_date("1980-01-01") == "1980-01-01"
    with pytest.raises(argparse.ArgumentTypeError):
        valid_date("01/01/1980")


CLI_MODULES = {
    "cli", "session", "schemas",
    "functions.physics", "functions.units",
    "operators.bbox", "operators.ensemble", "operators.fill", "operators.weighted_agg",
    "plans.cfsv2", "plans.gridmet",
    "sources.geojson_micro", "sources.nc_micro", "sources.prms", "sources.proj_micro",
    "sources.readers", "sources.shp_micro", "sources.thredds", "sources.writers",
}


def test_cli_imports_only_the_paper_modules():
    """The package modules reachable from cli.py through its import
    statements (function-local ones too, relative ones resolved) are
    exactly the paper's. Package __init__ files are not counted."""
    import ast

    import gridmet_etl_spark

    root = os.path.dirname(gridmet_etl_spark.__file__)

    def is_module(name):
        return os.path.isfile(os.path.join(root, *name.split(".")) + ".py")

    seen, todo = set(), ["cli"]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        pkg = mod.split(".")[:-1]
        with open(os.path.join(root, *mod.split(".")) + ".py") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = pkg[: len(pkg) - node.level + 1]
                    m = ".".join(base + ([node.module] if node.module else []))
                    m = f"gridmet_etl_spark.{m}" if m else "gridmet_etl_spark"
                else:
                    m = node.module
                names = [m] + [f"{m}.{a.name}" for a in node.names]
            else:
                continue
            for name in names:
                head, _, rest = name.partition(".")
                if head == "gridmet_etl_spark" and is_module(rest):
                    todo.append(rest)
    assert seen == CLI_MODULES


def test_cli_gridmet_end_to_end(spark, fixdir, tmp_path):
    rc = main(
        [
            "gridmet-etl",
            "--grid", os.path.join(fixdir, "grid.parquet"),
            "--weights", os.path.join(fixdir, "weights.parquet"),
            "--features", os.path.join(fixdir, "features.parquet"),
            "--start-date", "1980-01-01",
            "--end-date", "1980-01-07",
            "--partial",
            "--fill-missing",
            "--out", str(tmp_path),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "converted"))
    assert out.count() == 50 * 7  # all features incl. filled, all days
    sidecar = json.load(open(tmp_path / "converted_attrs.json"))
    assert sidecar["variables"]["tmax"]["units"] == "degree_Celsius"
    assert sidecar["Conventions"] == "CF-1.8"


def test_cli_gridmet_fill_missing_writes_fill_map(spark, fixdir, tmp_path):
    """gridmet-etl --fill-missing persists the nearest-donor map beside the
    output (K3, helper.py:75-77), as cfsv2-etl does: the weight-less
    features 46-50 each get a donor."""
    rc = main(
        [
            "gridmet-etl",
            "--grid", os.path.join(fixdir, "grid.parquet"),
            "--weights", os.path.join(fixdir, "weights.parquet"),
            "--features", os.path.join(fixdir, "features.parquet"),
            "--start-date", "1980-01-01",
            "--end-date", "1980-01-07",
            "--partial",
            "--fill-missing",
            "--out", str(tmp_path),
        ]
    )
    assert rc == 0
    fmap = pd.read_csv(tmp_path / "fill_map.csv")
    assert list(fmap.columns) == ["missing_id", "donor_id", "distance"]
    assert {46, 47, 48, 49, 50} <= set(fmap["missing_id"])
    assert fmap["donor_id"].notna().all()


def test_cli_gridmet_fill_reads_converted_features_by_feature_id(spark, fixdir, tmp_path):
    """--fid names the id property of a GIS --features file. The converted
    parquet stores it as feature_id, so the fill must read it by that name:
    feature 46 (no weights) gets feature 1 as its donor."""

    def square(x: float) -> dict:
        ring = [[x, 40.0], [x + 1, 40.0], [x + 1, 41.0], [x, 41.0], [x, 40.0]]
        return {"type": "Polygon", "coordinates": [ring]}

    geojson = tmp_path / "hrus.geojson"
    geojson.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"hru_id": fid}, "geometry": square(x)}
            for fid, x in ((1, -110.0), (46, -108.0))
        ],
    }))
    out_dir = tmp_path / "out"
    rc = main(
        [
            "gridmet-etl",
            "--grid", os.path.join(fixdir, "grid.parquet"),
            "--weights", os.path.join(fixdir, "weights.parquet"),
            "--features", str(geojson),
            "--fid", "hru_id",
            "--start-date", "1980-01-01",
            "--end-date", "1980-01-07",
            "--fill-missing",
            "--out", str(out_dir),
        ]
    )
    assert rc == 0
    fmap = pd.read_csv(out_dir / "fill_map.csv")
    assert fmap[["missing_id", "donor_id"]].values.tolist() == [[46, 1]]


@pytest.mark.parametrize(
    "command, inputs, bound",
    [
        ("gridmet-etl", ["--grid", "grid.parquet", "--weights", "weights.parquet"],
         ["--start-date", "1980-01-01"]),
        ("cfsv2-etl", ["--grid-ens", "grid_ens.parquet", "--weights", "weights_ens.parquet",
                       "--elevation", "elevation.parquet"],
         ["--end-date", "1980-01-07"]),
    ],
)
def test_cli_one_sided_date_range_exits_2(fixdir, tmp_path, capsys, command, inputs, bound):
    """One date bound alone is rejected before any work: the pipelines'
    time_filter raises on it too, but the CLI check makes the command exit
    2 before a session starts."""
    args = [a if a.startswith("--") else os.path.join(fixdir, a) for a in inputs]
    out = tmp_path / "out"
    rc = main([command, *args, *bound, "--out", str(out)])
    assert rc == 2
    assert "--start-date and --end-date must be given together" in capsys.readouterr().err
    assert not out.exists()


@pytest.mark.parametrize(
    "command, inputs",
    [
        ("gridmet-etl", ["--grid", "grid.parquet", "--weights", "weights.parquet"]),
        ("cfsv2-etl", ["--grid-ens", "grid_ens.parquet", "--weights", "weights_ens.parquet",
                       "--elevation", "elevation.parquet"]),
    ],
)
def test_cli_reversed_date_range_exits_2(fixdir, tmp_path, capsys, command, inputs):
    """A start date after the end date is rejected before any work: the
    time filter would keep no day and the run would write an empty
    dataset."""
    args = [a if a.startswith("--") else os.path.join(fixdir, a) for a in inputs]
    out = tmp_path / "out"
    rc = main([command, *args, "--start-date", "1980-01-07", "--end-date", "1980-01-01", "--out", str(out)])
    assert rc == 2
    assert "--start-date must not be after --end-date" in capsys.readouterr().err
    assert not out.exists()


def test_cli_cfsv2_method2_partitioned(spark, fixdir, tmp_path):
    rc = main(
        [
            "cfsv2-etl",
            "--grid-ens", os.path.join(fixdir, "grid_ens.parquet"),
            "--weights", os.path.join(fixdir, "weights_ens.parquet"),
            "--elevation", os.path.join(fixdir, "myparam.param"),
            "--method", "2",
            "--out", str(tmp_path),
        ]
    )
    assert rc == 0
    out_dir = tmp_path / "converted_ensemble"
    assert any(p.name.startswith("ens=") for p in out_dir.iterdir())  # K4 per-member layout
    out = spark.read.parquet(str(out_dir))
    assert out.select("ens").distinct().count() == 48


def test_cli_elevation_from_prms(spark, fixdir, tmp_path):
    """--elevation accepts the raw PRMS param file (S7 parse path)."""
    rc = main(
        [
            "cfsv2-etl",
            "--grid-ens", os.path.join(fixdir, "grid_ens.parquet"),
            "--weights", os.path.join(fixdir, "weights_ens.parquet"),
            "--elevation", os.path.join(fixdir, "myparam.param"),
            "--method", "1",
            "--out", str(tmp_path),
        ]
    )
    assert rc == 0
    assert (tmp_path / "converted_median").exists()


def test_cli_elevation_prms_matches_parquet(spark, fixdir, tmp_path):
    """PRMS HRU numbers are 1-based: the .param file and the elevation
    parquet (feature_id = feature_idx + 1) give row-identical output."""
    outs = []
    for name in ("myparam.param", "elevation.parquet"):
        rc = main(
            [
                "cfsv2-etl",
                "--grid-ens", os.path.join(fixdir, "grid_ens.parquet"),
                "--weights", os.path.join(fixdir, "weights_ens.parquet"),
                "--elevation", os.path.join(fixdir, name),
                "--method", "1",
                "--out", str(tmp_path / name),
            ]
        )
        assert rc == 0
        df = spark.read.parquet(str(tmp_path / name / "converted_median")).toPandas()
        outs.append(df.sort_values(["feature_id", "time"]).reset_index(drop=True))
    assert len(outs[0]) > 0
    pd.testing.assert_frame_equal(outs[0], outs[1], check_exact=True)


def test_cli_run_date_partition(spark, fixdir, tmp_path):
    """T3: --run-date lands the forecast snapshot under run_date=<d>/."""
    rc = main(
        [
            "cfsv2-etl",
            "--grid-ens", os.path.join(fixdir, "grid_ens.parquet"),
            "--weights", os.path.join(fixdir, "weights_ens.parquet"),
            "--elevation", os.path.join(fixdir, "elevation.parquet"),
            "--method", "2",
            "--run-date", "2024-06-01",
            "--out", str(tmp_path),
        ]
    )
    assert rc == 0
    base = tmp_path / "converted_ensemble" / "run_date=2024-06-01"
    assert base.exists()
    assert any(p.name.startswith("ens=") for p in base.iterdir())


def test_netcdf_export_real_bytes_no_injection(spark, tmp_path):
    """export_netcdf produces a REAL netCDF file in every environment:
    NETCDF4 via xarray when importable, else NetCDF-3 classic via the
    pure-python micro-writer — never a NotImplementedError gate. Verified
    by re-reading the classic bytes and checking values, fill cells, CF
    time encoding and the calendar attribute."""
    import numpy as np

    from gridmet_etl_spark.schemas import NETCDF_FILL_VALUE
    from gridmet_etl_spark.sources.nc_micro import read_netcdf3
    from gridmet_etl_spark.sources.writers import export_netcdf_classic

    rows = [
        (1, dt.date(2024, 6, 1), 20.5),
        (1, dt.date(2024, 6, 2), 21.0),
        (2, dt.date(2024, 6, 1), 18.25),
        # (2, 2024-06-02) missing -> must export as the CF fill value
    ]
    df = spark.createDataFrame(rows, ["feature_id", "time", "tmax"])
    path = str(tmp_path / "extract.nc")
    out = export_netcdf(df, path)  # xarray absent here -> classic fallback
    assert out == path
    assert open(path, "rb").read(4) == b"CDF\x01"
    dims, gatts, data = read_netcdf3(path)
    assert dims == {"time": 2, "nhru": 2}
    assert gatts["Conventions"] == "CF-1.8"
    tdims, tattrs, tvals = data["time"]
    assert tattrs["units"].startswith("days since 1970-01-01")
    assert "calendar" in tattrs
    assert list(tvals) == [
        (dt.date(2024, 6, 1) - dt.date(1970, 1, 1)).days,
        (dt.date(2024, 6, 2) - dt.date(1970, 1, 1)).days,
    ]
    vdims, vattrs, grid = data["tmax"]
    assert vdims == ["time", "nhru"]
    assert vattrs["_FillValue"] == NETCDF_FILL_VALUE
    assert grid[0, 0] == 20.5 and grid[1, 0] == 21.0 and grid[0, 1] == 18.25
    assert grid[1, 1] == NETCDF_FILL_VALUE
    # explicit-classic entry point writes the same bytes
    p2 = str(tmp_path / "extract2.nc")
    export_netcdf_classic(df, p2)
    assert open(p2, "rb").read() == open(path, "rb").read()
    assert np.asarray(data["nhru"][2]).tolist() == [1, 2]


def _make_synthetic_fetcher():
    """Returns a closure (serialized by value, so executors don't need to
    import this test module). value = i*1000 + j + day ordinal % 100."""

    def fetcher(task: dict) -> pd.DataFrame:
        import pandas as _pd

        days = _pd.date_range(task["t0"], task["t1"], freq="D").date
        rows = []
        for d in days:
            for i in range(task["i0"], task["i1"] + 1):
                for j in range(task["j0"], task["j1"] + 1):
                    rows.append(
                        (task["var"], -1, d, i, j, 49.4 - i * 0.04167, -124.8 + j * 0.04167,
                         float(i * 1000 + j) + d.toordinal() % 100)
                    )
        return _pd.DataFrame(
            rows, columns=["var", "ens", "time", "i", "j", "lat", "lon", "value"]
        )

    return fetcher


def test_ingest_job_plumbing(spark, tmp_path):
    recs = [
        {"URL": "http://example/tmmx", "variable": "tmmx"},
        {"URL": "http://example/pr", "variable": "pr"},
    ]
    tasks = build_slice_tasks(
        spark, recs, date(1980, 1, 1), date(1980, 1, 10),
        bbox_cells=(0, 9, 0, 9), days_per_task=5, tile_cells=5,
    )
    # 2 vars × 2 time windows × 2×2 tiles = 16 tasks
    assert tasks.count() == 16
    fetcher = _make_synthetic_fetcher()
    grid = fetch_grid(tasks, fetcher)
    assert grid.count() == 2 * 10 * 10 * 10  # vars × days × cells
    # landing layout partitioned by var/time → partition pruning downstream
    landing = str(tmp_path / "landing")
    ingest_to_parquet(tasks, fetcher, landing)
    assert os.path.exists(os.path.join(landing, "var=tmmx"))
    back = spark.read.parquet(landing)
    assert back.filter((F.col("var") == "pr") & (F.col("i") == 3) & (F.col("j") == 4)).count() == 10
    v = back.filter(
        (F.col("var") == "pr") & (F.col("i") == 3) & (F.col("j") == 4)
    ).orderBy("time").collect()[0]
    assert v.value == pytest.approx(3004.0 + date(1980, 1, 1).toordinal() % 100)


def test_ingest_append_batches_equal_one_shot(spark, tmp_path):
    """Variable-batched landing (mode='append', the single-box scratch-disk
    accommodation tools/ingest_stress.py --batch-vars uses) produces the
    same table as the one-DAG one-shot."""
    recs = [
        {"URL": "http://example/tmmx", "variable": "tmmx"},
        {"URL": "http://example/pr", "variable": "pr"},
    ]
    fetcher = _make_synthetic_fetcher()
    kw = dict(bbox_cells=(0, 9, 0, 9), days_per_task=5, tile_cells=5)
    one = str(tmp_path / "one")
    ingest_to_parquet(
        build_slice_tasks(spark, recs, date(1980, 1, 1), date(1980, 1, 10), **kw),
        fetcher, one,
    )
    batched = str(tmp_path / "batched")
    for bi, rec in enumerate(recs):
        ingest_to_parquet(
            build_slice_tasks(spark, [rec], date(1980, 1, 1), date(1980, 1, 10), **kw),
            fetcher, batched, mode="overwrite" if bi == 0 else "append",
        )
    a = spark.read.parquet(one)
    b = spark.read.parquet(batched)
    assert a.count() == b.count() == 2 * 10 * 10 * 10
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _make_fake_open_dataset():
    """url -> duck-typed stand-in for the xarray Dataset API surface the
    production fetcher drives (positional isel, label sel on time, variable
    selection, to_dataframe). Defined inside a factory so cloudpickle ships
    it by value to executors. Grid: 20x20, lat DESCENDING from Y1=49.4
    (toptobottom false), days 1980-01-01..06, value = i*1000 + j + day_idx;
    cell (i=3, j=2) is NaN on the second day."""
    import numpy as _np
    import pandas as _pd

    RES, Y1, X1 = 0.04167, 49.4, -124.76667

    class _FakeVar:
        def __init__(self, df, var):
            self._df, self._var = df, var

        def to_dataframe(self):
            return self._df[["day", "latitude", "longitude", self._var]].set_index(
                ["day", "latitude", "longitude"]
            )

    class _FakeDs:
        def __init__(self, df, coords):
            self._df, self._coords = df, coords

        def isel(self, indexers):
            df = self._df
            for dim, slc in indexers.items():
                keep = set(self._coords[dim][slc])
                df = df[df[dim].isin(keep)]
            return _FakeDs(df, self._coords)

        def sel(self, indexers):
            df = self._df
            for dim, slc in indexers.items():
                lo, hi = _pd.Timestamp(slc.start), _pd.Timestamp(slc.stop)
                df = df[(df[dim] >= lo) & (df[dim] <= hi)]
            return _FakeDs(df, self._coords)

        def __getitem__(self, var):
            return _FakeVar(self._df, var)

    def open_dataset(url):
        days = _pd.date_range("1980-01-01", "1980-01-06", freq="D")
        lats = Y1 - RES * _np.arange(20)  # storage row 0 = north edge
        lons = X1 + RES * _np.arange(20)
        recs = []
        for d_idx, d in enumerate(days):
            for i, la in enumerate(lats):
                for j, lo in enumerate(lons):
                    v = float(i * 1000 + j + d_idx)
                    if (i, j) == (3, 2) and d_idx == 2:
                        v = float("nan")
                    recs.append((d, la, lo, v))
        df = _pd.DataFrame(recs, columns=["day", "latitude", "longitude", "air_temp"])
        return _FakeDs(df, {"day": days, "latitude": lats, "longitude": lons})

    return open_dataset


def test_opendap_fetcher_maps_dims_to_grid_schema(spark):
    """S5 completion: the production fetcher's dim/var -> GRID_SCHEMA mapping
    (T_name/X_name/Y_name/varname from the catalog record, descending-lat
    index arithmetic, NaN -> NULL) runs end-to-end on a synthetic dataset
    with the network read injected."""
    from gridmet_etl_spark.sources.ingest import make_opendap_fetcher

    rec = {
        "URL": "http://example/ds",
        "T_name": "day",
        "X_name": "longitude",
        "Y_name": "latitude",
        "varname": "air_temp",
        "variable": "tmmx",
        "X1": -124.76667,
        "Y1": 49.4,
        "resX": 0.04167,
        "resY": 0.04167,
        "ncols": 20,
        "nrows": 20,
        "toptobottom": False,
    }
    fetcher = make_opendap_fetcher(rec, open_dataset=_make_fake_open_dataset())
    task = {
        "url": rec["URL"], "var": "tmmx",
        "t0": date(1980, 1, 2), "t1": date(1980, 1, 4),
        "i0": 2, "i1": 4, "j0": 1, "j1": 3,
    }
    pdf = fetcher(task)
    assert list(pdf.columns) == ["var", "ens", "time", "i", "j", "lat", "lon", "value"]
    assert len(pdf) == 3 * 3 * 3  # days x lats x lons
    assert set(pdf["var"]) == {"tmmx"} and set(pdf["ens"]) == {-1}
    # cell indexes recomputed against the FULL grid origin (not slice-local)
    assert set(pdf["i"]) == {2, 3, 4} and set(pdf["j"]) == {1, 2, 3}
    # value formula survives the mapping; NaN became NA (-> SQL NULL)
    d2 = pdf[(pdf["i"] == 2) & (pdf["j"] == 3) & (pdf["time"] == date(1980, 1, 2))]
    assert float(d2["value"].iloc[0]) == 2004.0  # i*1000 + j + day_idx(=1)
    missing = pdf[pdf["value"].isna()]
    assert len(missing) == 1
    assert (missing["i"].iloc[0], missing["j"].iloc[0]) == (3, 2)
    assert missing["time"].iloc[0] == date(1980, 1, 3)

    # and through the distributed fan-out: NULL lands as SQL NULL
    tasks = spark.createDataFrame([tuple(task[k] for k in
        ["url", "var", "t0", "t1", "i0", "i1", "j0", "j1"])], TASK_SCHEMA)
    grid = fetch_grid(tasks, fetcher)
    assert grid.count() == 27
    assert grid.filter(F.col("value").isNull()).count() == 1


def _parse_golden_header(path):
    """Extract {var: {attr: value}} from a reference ncdump header dump."""
    import re

    attrs = {}
    for m in re.finditer(r'^\s+(\w+):(\w+) = "?([^";]*?)"? ;', open(path).read(), re.M):
        var, key, val = m.groups()
        attrs.setdefault(var, {})[key] = val
    return attrs


@pytest.mark.parametrize(
    "golden,calendar,vars_checked",
    [
        pytest.param(
            "/root/reference/gm_header.md", "proleptic_gregorian",
            ["tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"],
            marks=pytest.mark.skipif(
                not os.path.exists("/root/reference/gm_header.md"),
                reason="reference data not mounted")),
        pytest.param(
            "/root/reference/cfsv2_median_header.md", "julian",
            ["tmax", "tmin", "prcp"],
            marks=pytest.mark.skipif(
                not os.path.exists("/root/reference/cfsv2_median_header.md"),
                reason="reference data not mounted")),
    ],
)
def test_sidecar_matches_golden_header(spark, tmp_path, golden, calendar, vars_checked):
    """Structural comparison against the reference's published NetCDF
    headers: per-variable units/long_name and the PER-PIPELINE time
    calendar (gridMET proleptic_gregorian, CFSv2 julian) must match what
    our sidecar would stamp at the NetCDF edge."""
    gold = _parse_golden_header(golden)
    df = spark.createDataFrame(
        [(1, date(2024, 4, 1)) + tuple(float(i) for i in range(len(vars_checked)))],
        "feature_id long, time date, " + ", ".join(f"{v} double" for v in vars_checked),
    )
    write_output(df, str(tmp_path), file_prefix="hdr", calendar=calendar)
    side = json.load(open(tmp_path / "hdr_attrs.json"))["variables"]
    assert side["time"]["calendar"] == gold["time"]["calendar"] == calendar
    for v in vars_checked:
        assert side[v]["units"] == gold[v]["units"], v
        assert side[v]["long_name"] == gold[v]["long_name"], v
