"""Sinks (SURVEY §2.2 K1-K6).

Canonical sink is partitioned Parquet; the reference's NetCDF outputs map to
a parquet layout + CF-attribute sidecar, with true NetCDF export available
only when a netCDF library exists (gated import — none ships in this
container). File naming conventions (K4: ``<prefix>_converted[_median|_N]``)
become partition-directory conventions; K5 intermediate cleanup disappears
because one lazy DAG writes no intermediates.

Scale notes: per-partition file counts are controlled by the caller's
partitioning (``ens``/``run_date``), compression is zstd (K2's zlib
analogue), and writes are idempotent via dynamic partition overwrite.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..schemas import NETCDF_FILL_VALUE

# CF attribute registry for output variables, matching the reference's
# golden NetCDF headers exactly (gm_header.md:12-77: pint-expanded unit
# names, long_name = SOURCE variable name; cfsv2_median_header.md:11-53).
CF_ATTRS = {
    "tmax": {"units": "degree_Celsius", "long_name": "tmmx"},
    "tmin": {"units": "degree_Celsius", "long_name": "tmmn"},
    "prcp": {"units": "millimeter", "long_name": "pr"},
    "rhmax": {"units": "percent", "long_name": "rmax"},
    "rhmin": {"units": "percent", "long_name": "rmin"},
    "ws": {"units": "meter / second", "long_name": "vs"},
    "humidity": {"units": "percent", "long_name": "Daily mean relative humidity"},
    "feature_id": {"long_name": "local model Hydrologic Response Unit id (nhru)"},
    "lat": {"long_name": "Latitude of HRU centroid", "standard_name": "latitude",
            "axis": "Y"},
    "lon": {"long_name": "Longitude of HRU centroid", "standard_name": "longitude",
            "axis": "X"},
    "time": {"calendar": "proleptic_gregorian"},
    "ens": {"long_name": "Ensemble member"},
}

# Per-pipeline time calendar at the NetCDF edge: gridMET publishes
# proleptic_gregorian (gm_header.md:62), CFSv2 julian
# (cfsv2_median_header.md:43).
GRIDMET_CALENDAR = "proleptic_gregorian"
CFSV2_CALENDAR = "julian"


def write_output(
    df: DataFrame,
    out_dir: str,
    partition_by: tuple[str, ...] = (),
    file_prefix: str = "converted",
    mode: str = "overwrite",
    compression: str = "zstd",
    calendar: str = GRIDMET_CALENDAR,
) -> str:
    """K1/K4/K6: write the per-feature series as partitioned parquet under
    ``out_dir/<file_prefix>/`` with a CF-attribute sidecar. Returns the
    dataset path. ``calendar`` is the pipeline's time calendar (CFSv2 must
    pass ``julian`` to match its golden header)."""
    path = os.path.join(out_dir, file_prefix)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        # per-write option, not session conf: a conf.set here would leak
        # dynamic-overwrite into every later partitioned write in the session
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    writer.parquet(path)
    variables = {c: dict(CF_ATTRS.get(c, {})) for c in df.columns}
    if "time" in variables:
        variables["time"]["calendar"] = calendar
    sidecar = {
        "variables": variables,
        "featureType": "timeSeries",
        "Conventions": "CF-1.8",
        "fill_value_at_netcdf_edge": NETCDF_FILL_VALUE,
    }
    with open(os.path.join(out_dir, f"{file_prefix}_attrs.json"), "w") as f:
        json.dump(sidecar, f, indent=2)
    return path


def write_fill_map_csv(fill_map: DataFrame, out_dir: str, name: str = "fill_map") -> str:
    """K3: persist the nearest-neighbor mapping as a single CSV (small —
    driver-side is correct here, mirroring helper.py:75-77)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.csv")
    fill_map.toPandas().to_csv(path, index=False)
    return path


def export_netcdf(
    df: DataFrame,
    path: str,
    time_col: str = "time",
    calendar: str = GRIDMET_CALENDAR,
) -> str:
    """K1/K2 edge-export: true NetCDF (dims (time, nhru), CF-1.8,
    _FillValue=9.96920996838687e+36 per gm_header.md:13). With xarray
    importable this writes NETCDF4 (compressed) exactly as the reference
    does (reference etl.py:585-607); without it, it falls back to the
    pure-python NetCDF-3 classic writer (sources/nc_micro.py) — same dims,
    variables, CF attributes, fill value and calendar, real bytes any
    netCDF consumer can open. The engine's canonical format stays parquet;
    this is a compatibility shim for downstream NHM tooling.

    CONTAINER DIVERGENCE (documented, asserted in test_realdata.py): the
    reference always writes NETCDF4/HDF5 (etl.py:231,465,750); the no-xarray
    fallback emits NetCDF-3 classic — identical logical structure (dims,
    variable names/dtypes, CF attrs, _FillValue, calendar per gm_header.md)
    but a different container (no compression, classic 32-bit offsets).
    Consumers that require the HDF5 container must run with xarray+netCDF4
    installed.
    """
    try:
        import xarray  # noqa: F401
    except ImportError:  # pragma: no cover - env-dependent
        return export_netcdf_classic(df, path, time_col=time_col, calendar=calendar)
    pdf = df.toPandas()  # edge-export: bounded output (features × days)
    value_cols = [c for c in pdf.columns if c not in ("feature_id", time_col, "ens")]
    member = _single_member(pdf)
    pdf = pdf.set_index(["feature_id", time_col]).sort_index()
    ds = pdf[value_cols].to_xarray().rename({"feature_id": "nhru"})
    for v in value_cols:
        ds[v].attrs.update(CF_ATTRS.get(v, {}))
        ds[v].encoding.update({"_FillValue": NETCDF_FILL_VALUE, "zlib": True, "complevel": 2})
    if time_col in ds.coords:
        ds[time_col].encoding.update({"calendar": calendar})
    if member is not None:
        # per-member ensemble export (cfsv2_ensemble_header.md:55 —
        # `int64 ens ;` scalar in each member file; reference
        # etl.py:355-357 concat dim="ens" then writes one file per member)
        import numpy as _np

        ds["ens"] = _np.int64(member)
    ds.attrs.update({"Conventions": "CF-1.8", "featureType": "timeSeries"})
    ds.to_netcdf(path, format="NETCDF4")
    return path


def _single_member(pdf) -> int | None:
    """The single `ens` member id of a per-member export slice, or None
    when the frame has no ens column (duplicate-(feature, time) handling —
    i.e. an UNFILTERED multi-member frame — stays with the callers'
    existing checks)."""
    if "ens" not in pdf.columns or len(pdf) == 0:
        return None
    u = pdf["ens"].unique()
    return int(u[0]) if len(u) == 1 else None


def export_netcdf_classic(
    df: DataFrame,
    path: str,
    time_col: str = "time",
    calendar: str = GRIDMET_CALENDAR,
) -> str:
    """NetCDF-3 classic export via the dependency-free micro-writer:
    dims (time, nhru), CF time encoding ('days since 1970-01-01',
    per-pipeline calendar), per-variable CF attrs + _FillValue for
    missing (feature, time) cells. Bounded edge-export like the NETCDF4
    path (features × days), so the driver-side pivot is correct here."""
    import numpy as np

    from .nc_micro import write_netcdf3

    pdf = df.toPandas()  # edge-export: bounded output (features × days)
    # the xarray path's set_index would surface duplicate (feature, time)
    # labels as a reindex error; the positional grid assignment below would
    # silently last-write-win — fail loudly instead (ADVICE r6)
    dup = pdf[["feature_id", time_col]].duplicated()
    if dup.any():
        hint = (
            "; input has multiple ensemble members — export per member "
            "(filter ens == k, or write parquet partitionBy('ens'))"
            if "ens" in pdf.columns and pdf["ens"].nunique() > 1
            else ""
        )
        raise ValueError(
            f"duplicate (feature_id, {time_col}) rows in NetCDF export input "
            f"({int(dup.sum())} dups, e.g. "
            f"{pdf.loc[dup, ['feature_id', time_col]].iloc[0].tolist()}){hint}"
        )
    value_cols = [c for c in pdf.columns if c not in ("feature_id", time_col, "ens")]
    features = np.sort(pdf["feature_id"].unique())
    times = np.sort(pdf[time_col].unique())
    f_ix = {f: i for i, f in enumerate(features)}
    t_ix = {t: i for i, t in enumerate(times)}
    rows = pdf[time_col].map(t_ix).to_numpy()
    cols = pdf["feature_id"].map(f_ix).to_numpy()
    epoch = np.datetime64("1970-01-01")
    time_days = (
        (np.asarray(times, dtype="datetime64[D]") - epoch) / np.timedelta64(1, "D")
    ).astype("f8")
    variables = [
        (
            time_col,
            [time_col],
            {"units": "days since 1970-01-01 00:00:00", "calendar": calendar},
            time_days,
        ),
        ("nhru", ["nhru"], {"long_name": "local model hru id"},
         np.asarray(features, dtype="i4")),
    ]
    member = _single_member(pdf)
    if member is not None:
        # per-member ensemble slice: scalar `ens` variable
        # (cfsv2_ensemble_header.md:55 has int64; classic has no 64-bit
        # int — i4 under the documented container divergence, like nhru)
        variables.append(("ens", [], {}, np.asarray(member, dtype="i4")))
    for v in value_cols:
        grid = np.full((len(times), len(features)), NETCDF_FILL_VALUE, dtype="f8")
        grid[rows, cols] = pdf[v].to_numpy(dtype="f8")
        # NaN cells (missing measurements) export as the CF fill value
        grid[np.isnan(grid)] = NETCDF_FILL_VALUE
        attrs = dict(CF_ATTRS.get(v, {}))
        attrs["_FillValue"] = float(NETCDF_FILL_VALUE)
        variables.append((v, [time_col, "nhru"], attrs, grid))
    write_netcdf3(
        path,
        dims={time_col: len(times), "nhru": len(features)},
        variables=variables,
        global_attrs={"Conventions": "CF-1.8", "featureType": "timeSeries"},
    )
    return path
