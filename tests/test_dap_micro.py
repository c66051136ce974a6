"""Pure-python DAP2 client (sources/dap_micro.py): the .dods fixture is
HAND-ASSEMBLED from the public DAP 2.0 spec (DDS grammar + XDR wire
format — big-endian, double length prefix per array), so parser and spec
check each other; then the REAL ingest path (make_opendap_fetcher with
dap_micro as the opener) runs end-to-end to GRID_SCHEMA parquet."""

import struct

import numpy as np
import pytest

from gridmet_etl_spark.sources.dap_micro import open_dods, parse_das, parse_dods

_DDS = """Dataset {
    Grid {
     ARRAY:
        Float32 pr[day = 3][lat = 2][lon = 2];
     MAPS:
        Float64 day[day = 3];
        Float64 lat[lat = 2];
        Float64 lon[lon = 2];
    } pr;
} test_grid;"""

_DAS = """Attributes {
    day {
        String units "days since 1900-01-01";
        String calendar "standard";
    }
    pr {
        String units "mm";
    }
}"""


def _xdr_array(vals, fmt) -> bytes:
    body = b"".join(struct.pack(fmt, v) for v in vals)
    return struct.pack(">II", len(vals), len(vals)) + body


def _dods_payload() -> bytes:
    # day values 45000..45002 since 1900-01-01 -> 2023-03-16..18
    pr = [float(100 * t + 10 * i + j) for t in range(3) for i in range(2) for j in range(2)]
    data = (
        _xdr_array(pr, ">f")
        + _xdr_array([45000.0, 45001.0, 45002.0], ">d")
        + _xdr_array([49.0, 48.9], ">d")  # descending lat (toptobottom false)
        + _xdr_array([-124.0, -123.9], ">d")
    )
    return _DDS.encode("ascii") + b"\nData:\n" + data


def test_parse_dods_spec_assembled_grid():
    ds = parse_dods(_dods_payload(), _DAS)
    assert ds.arrays["pr"].shape == (3, 2, 2)
    assert ds.arrays["pr"][1, 1, 0] == np.float32(110.0)
    import datetime as dt

    # datetime coords (xarray decodes to datetime64, not date — ADVICE r6:
    # date coords collapsed sub-daily offsets onto duplicate labels)
    assert list(ds.coords["day"]) == [
        dt.datetime(1900, 1, 1) + dt.timedelta(days=45000 + k) for k in range(3)
    ]
    assert list(ds.coords["lat"]) == [49.0, 48.9]


def test_sel_isel_and_to_dataframe():
    ds = parse_dods(_dods_payload(), _DAS)
    d0 = str(ds.coords["day"][0])
    d1 = str(ds.coords["day"][1])
    sub = ds.isel({"lat": slice(0, 1), "lon": slice(0, 2)}).sel(
        {"day": slice(d0, d1)}
    )
    df = sub["pr"].to_dataframe().reset_index()
    assert len(df) == 2 * 1 * 2
    assert set(df.columns) == {"day", "lat", "lon", "pr"}
    assert sorted(df["pr"]) == [0.0, 1.0, 100.0, 101.0]
    # inclusive-label sel: both endpoint days survive
    assert df["day"].nunique() == 2


def test_subdaily_time_coords_stay_distinct():
    """ADVICE r6: 'hours since' values at 0/6/12/18h must decode to FOUR
    distinct datetime labels (date coords collapsed them), and a date-only
    sel() upper label must include the whole day (xarray partial string
    indexing)."""
    import datetime as dt

    dds = """Dataset {
    Grid {
     ARRAY:
        Float32 pr[t = 4][lat = 1][lon = 1];
     MAPS:
        Float64 t[t = 4];
        Float64 lat[lat = 1];
        Float64 lon[lon = 1];
    } pr;
} g;"""
    das = """Attributes {
    t {
        String units "hours since 2020-01-01";
    }
}"""
    data = (
        _xdr_array([1.0, 2.0, 3.0, 4.0], ">f")
        + _xdr_array([0.0, 6.0, 12.0, 18.0], ">d")
        + _xdr_array([49.0], ">d")
        + _xdr_array([-124.0], ">d")
    )
    ds = parse_dods(dds.encode("ascii") + b"\nData:\n" + data, das)
    coords = list(ds.coords["t"])
    assert coords == [
        dt.datetime(2020, 1, 1, h) for h in (0, 6, 12, 18)
    ]
    assert len(set(coords)) == 4
    # whole-day inclusive sel keeps all four sub-daily steps
    sub = ds.sel({"t": slice("2020-01-01", "2020-01-01")})
    assert list(sub.arrays["pr"].reshape(-1)) == [1.0, 2.0, 3.0, 4.0]
    # a full timestamp upper label is an exact inclusive bound
    sub2 = ds.sel({"t": slice("2020-01-01", "2020-01-01T06:00:00")})
    assert list(sub2.arrays["pr"].reshape(-1)) == [1.0, 2.0]


def test_parse_das():
    attrs = parse_das(_DAS)
    assert attrs["day"]["units"] == "days since 1900-01-01"
    assert attrs["pr"]["units"] == "mm"


def test_length_prefix_mismatch_raises():
    bad = _DDS.encode("ascii") + b"\nData:\n" + struct.pack(">II", 5, 5)
    with pytest.raises(ValueError, match="length prefix mismatch"):
        parse_dods(bad, "")


def test_opendap_fetcher_end_to_end_real_dap_bytes(spark, tmp_path, monkeypatch):
    """The FULL ingest path over real DAP2 bytes with xarray blocked:
    build_slice_tasks → make_opendap_fetcher(open_dods) → GRID_SCHEMA →
    partitioned parquet, with the descending-lat cell arithmetic checked
    against hand values."""
    import builtins
    import datetime as dt

    from pyspark.sql import functions as F

    from gridmet_etl_spark.sources.ingest import (
        build_slice_tasks,
        fetch_grid,
        ingest_to_parquet,
        make_opendap_fetcher,
    )

    dods = tmp_path / "pr.dods"
    dods.write_bytes(_dods_payload())
    (tmp_path / "pr.das").write_text(_DAS)

    real_import = builtins.__import__

    def no_xarray(name, *a, **kw):
        if name == "xarray":
            raise ImportError("xarray disabled for test")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_xarray)

    rec = {
        "URL": str(dods),
        "T_name": "day", "X_name": "lon", "Y_name": "lat",
        "varname": "pr", "variable": "pr",
        "X1": -124.0, "Y1": 49.0, "resX": 0.1, "resY": 0.1,
        "toptobottom": False,
    }
    t0 = dt.date(1900, 1, 1) + dt.timedelta(days=45000)
    tasks = build_slice_tasks(
        spark, [rec], t0, t0 + dt.timedelta(days=2),
        bbox_cells=(0, 1, 0, 1), days_per_task=3, tile_cells=2,
    )
    fetcher = make_opendap_fetcher(rec)  # no injection: dap_micro path
    grid = fetch_grid(tasks, fetcher)
    rows = {(r.time, r.i, r.j): r.value for r in grid.collect()}
    assert len(rows) == 3 * 2 * 2
    # day index 1, lat 48.9 (descending -> i=1), lon -124.0 (j=0) -> 110
    assert rows[(t0 + dt.timedelta(days=1), 1, 0)] == 110.0
    assert rows[(t0, 0, 0)] == 0.0
    landing = str(tmp_path / "landing")
    ingest_to_parquet(tasks, fetcher, landing)
    back = spark.read.parquet(landing)
    assert back.count() == 12
    assert back.filter(F.col("var") == "pr").select("time").distinct().count() == 3


def test_subdaily_ingest_collapses_to_daily_mean(spark, tmp_path, monkeypatch):
    """Sub-daily (6-hourly) DAP data through the FULL ingest + weighted
    aggregation: the fetcher emits one GRID_SCHEMA row per timestep with
    the same date label, and weighted_mean_wide's Σw·v/Σw over the duplicate
    cell-day rows yields the area-weighted DAILY MEAN of the sub-daily
    values (documented in ingest.py)."""
    import builtins

    from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide
    from gridmet_etl_spark.sources.ingest import make_opendap_fetcher

    dds = """Dataset {
    Grid {
     ARRAY:
        Float32 pr[t = 4][lat = 1][lon = 1];
     MAPS:
        Float64 t[t = 4];
        Float64 lat[lat = 1];
        Float64 lon[lon = 1];
    } pr;
} g;"""
    das = """Attributes {
    t {
        String units "hours since 2020-01-01";
    }
}"""
    data = (
        _xdr_array([1.0, 2.0, 3.0, 6.0], ">f")  # day mean = 3.0
        + _xdr_array([0.0, 6.0, 12.0, 18.0], ">d")
        + _xdr_array([49.0], ">d")
        + _xdr_array([-124.0], ">d")
    )
    dods = tmp_path / "pr6h.dods"
    dods.write_bytes(dds.encode("ascii") + b"\nData:\n" + data)
    (tmp_path / "pr6h.das").write_text(das)

    real_import = builtins.__import__

    def no_xarray(name, *a, **kw):
        if name == "xarray":
            raise ImportError("xarray disabled for test")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_xarray)
    rec = {
        "T_name": "t", "X_name": "lon", "Y_name": "lat",
        "varname": "pr", "variable": "pr",
        "X1": -124.0, "Y1": 49.0, "resX": 0.5, "resY": 0.5,
        "toptobottom": False,
    }
    fetch = make_opendap_fetcher(rec)
    pdf = fetch(
        {
            "url": str(dods),
            "i0": 0, "i1": 0, "j0": 0, "j1": 0,
            "t0": "2020-01-01", "t1": "2020-01-01",
        }
    )
    assert len(pdf) == 4  # one row per 6-hourly step, same date label
    assert pdf["time"].nunique() == 1

    grid = spark.createDataFrame(pdf)
    weights = spark.createDataFrame(
        [(7, 0, 0, 1.0)], ["feature_id", "i", "j", "wght"]
    )
    [row] = weighted_mean_wide(grid, weights, ["pr"]).withColumnRenamed("pr", "value").collect()
    assert row.value == pytest.approx(3.0)  # daily mean of 1,2,3,6
