"""Seeded, deterministic input generator for the benchmark workloads.

Every array is a pure function of ``(workload spec, seed)``: the same seed
gives byte-identical inputs, and the program under test only ever sees the
landed parquet trees and the weight/feature/elevation tables built here.

Landed grids use the layout ``ingest_to_parquet`` writes: a long-form
``GRID_SCHEMA`` table partitioned ``var=<name>/time=<yyyy-mm-dd>/``, one
zstd parquet file per partition.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one grid cell of buffer around the feature-centroid bbox, the value
# operators.bbox.bbox_filter applies by default
BBOX_BUFFER_DEG = 0.04167


@dataclass(frozen=True)
class GridSpec:
    ny: int
    nx: int
    res: float
    lat0: float = 49.4  # north edge: row 0 is the northernmost row
    lon0: float = -124.8  # west edge

    def lat(self) -> np.ndarray:
        return self.lat0 - np.arange(self.ny) * self.res

    def lon(self) -> np.ndarray:
        return self.lon0 + np.arange(self.nx) * self.res


@dataclass
class GridInputs:
    """Generated cube plus the aggregation tables that reference it."""

    spec: GridSpec
    variables: list[str]
    days: list[date]
    n_ens: int  # 0 for a deterministic (non-ensemble) product
    # values[var] has shape (n_days, ny, nx) or (n_ens, n_days, ny, nx)
    values: dict[str, np.ndarray]
    # weights table (feature_id, i, j, wght)
    w_fid: np.ndarray
    w_i: np.ndarray
    w_j: np.ndarray
    w_wght: np.ndarray
    # features table (feature_id, lat, lon) = HRU centroids
    f_id: np.ndarray
    f_lat: np.ndarray
    f_lon: np.ndarray
    hru_elev: np.ndarray | None = None

    @property
    def cells(self) -> int:
        return sum(int(v.size) for v in self.values.values())

    def nan_share(self) -> float:
        n = sum(int(np.isnan(v).sum()) for v in self.values.values())
        return n / self.cells


def _land_mask(rng: np.random.Generator, ny: int, nx: int, land_frac: float) -> np.ndarray:
    """Blocky land/ocean mask: coarse uniform noise upsampled by 8 plus
    fine noise, thresholded so that ``land_frac`` of the cells are land."""
    coarse = rng.random((ny // 8 + 1, nx // 8 + 1))
    field = np.kron(coarse, np.ones((8, 8)))[:ny, :nx] + 0.3 * rng.random((ny, nx))
    return field >= np.quantile(field, 1.0 - land_frac)


def _hru_tables(
    rng: np.random.Generator,
    spec: GridSpec,
    n_hru: int,
    max_side: int,
    margin: int,
) -> tuple[np.ndarray, ...]:
    """HRU footprints: each HRU covers a random rectangle of 1..max_side
    cells per side inside the grid interior, with an area weight in
    (0.05, 1] per covered cell. Weight cells outside the buffered
    centroid bbox are dropped, so the bbox filter in the pipelines never
    removes a weighted cell and Σw·v/Σw over the table is the exact answer."""
    ci = rng.integers(margin, spec.ny - margin - max_side, n_hru)
    cj = rng.integers(margin, spec.nx - margin - max_side, n_hru)
    hi = rng.integers(1, max_side + 1, n_hru)
    wj = rng.integers(1, max_side + 1, n_hru)
    counts = hi * wj
    fid = np.repeat(np.arange(1, n_hru + 1, dtype=np.int64), counts)
    # offsets within each rectangle, row-major
    k = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    w_rep = np.repeat(wj, counts)
    ii = (np.repeat(ci, counts) + k // w_rep).astype(np.int32)
    jj = (np.repeat(cj, counts) + k % w_rep).astype(np.int32)
    wght = 0.05 + 0.95 * rng.random(len(fid))
    lat, lon = spec.lat(), spec.lon()
    f_lat = np.bincount(fid - 1, weights=lat[ii]) / counts
    f_lon = np.bincount(fid - 1, weights=lon[jj]) / counts
    keep = (
        (lat[ii] >= f_lat.min() - BBOX_BUFFER_DEG)
        & (lat[ii] <= f_lat.max() + BBOX_BUFFER_DEG)
        & (lon[jj] >= f_lon.min() - BBOX_BUFFER_DEG)
        & (lon[jj] <= f_lon.max() + BBOX_BUFFER_DEG)
    )
    f_id = np.arange(1, n_hru + 1, dtype=np.int64)
    return fid[keep], ii[keep], jj[keep], wght[keep], f_id, f_lat, f_lon


# gridMET source variables: (name, mean, spread, clip-at-zero)
_GRIDMET_VARS = [
    ("tmmx", 300.0, 8.0, False),
    ("tmmn", 285.0, 8.0, False),
    ("pr", 0.0, 6.0, True),
    ("rmax", 80.0, 12.0, True),
    ("rmin", 35.0, 12.0, True),
    ("vs", 3.5, 1.5, True),
]
_CFSV2_VARS = [
    ("tmmx", 295.0, 6.0, False),
    ("tmmn", 282.0, 6.0, False),
    ("pr", 0.0, 5.0, True),
    ("sph", 0.008, 0.002, True),
]


def _field(rng, shape, mean, spread, clip) -> np.ndarray:
    v = mean + spread * rng.standard_normal(shape)
    return np.maximum(v, 0.0) if clip else v


def gridmet_inputs(
    seed: int,
    spec: GridSpec,
    n_days: int,
    n_hru: int,
    land_frac: float = 0.56,
    max_side: int = 4,
    start: date = date(2020, 7, 1),
) -> GridInputs:
    """Daily gridMET-like cube: six variables, ocean cells NaN in every
    variable and day, HRUs scattered over the interior (coastal HRUs
    straddle ocean cells, so the masked mean matters)."""
    rng = np.random.default_rng([seed, 1])
    land = _land_mask(rng, spec.ny, spec.nx, land_frac)
    shape = (n_days, spec.ny, spec.nx)
    values = {}
    for name, mean, spread, clip in _GRIDMET_VARS:
        v = _field(rng, shape, mean, spread, clip)
        v[:, ~land] = np.nan
        values[name] = v
    fid, ii, jj, w, f_id, f_lat, f_lon = _hru_tables(rng, spec, n_hru, max_side, margin=4)
    days = [start + timedelta(days=d) for d in range(n_days)]
    return GridInputs(spec, [v[0] for v in _GRIDMET_VARS], days, 0, values,
                      fid, ii, jj, w, f_id, f_lat, f_lon)


def cfsv2_inputs(
    seed: int,
    spec: GridSpec,
    n_ens: int,
    n_days: int,
    n_hru: int,
    max_side: int = 2,
    start: date = date(2024, 4, 1),
) -> GridInputs:
    """One CFSv2 forecast cycle: ``n_ens`` members × four variables, no
    missing cells (strict weighted mean), plus an HRU elevation table."""
    rng = np.random.default_rng([seed, 2])
    shape = (n_ens, n_days, spec.ny, spec.nx)
    values = {
        name: _field(rng, shape, mean, spread, clip)
        for name, mean, spread, clip in _CFSV2_VARS
    }
    fid, ii, jj, w, f_id, f_lat, f_lon = _hru_tables(rng, spec, n_hru, max_side, margin=1)
    elev = 3000.0 * rng.random(n_hru)
    days = [start + timedelta(days=d) for d in range(n_days)]
    return GridInputs(spec, [v[0] for v in _CFSV2_VARS], days, n_ens, values,
                      fid, ii, jj, w, f_id, f_lat, f_lon, hru_elev=elev)


def land_grid(inp: GridInputs, root: str) -> str:
    """Write the cube as the partitioned long-form tree
    ``root/var=<v>/time=<d>/part-0.zstd.parquet`` (GRID_SCHEMA minus the
    partition columns), one file per partition. Rows are cell-major
    within each file, members innermost."""
    spec = inp.spec
    ny, nx = spec.ny, spec.nx
    ens_n = max(inp.n_ens, 1)
    ii, jj = np.meshgrid(np.arange(ny, dtype=np.int32), np.arange(nx, dtype=np.int32),
                         indexing="ij")
    ii = np.repeat(ii.ravel(), ens_n)
    jj = np.repeat(jj.ravel(), ens_n)
    lat = spec.lat()[ii]
    lon = spec.lon()[jj]
    if inp.n_ens:
        ens = np.tile(np.arange(ens_n, dtype=np.int32), ny * nx)
    else:
        ens = np.full(ny * nx, -1, dtype=np.int32)
    fixed = {
        "ens": pa.array(ens, pa.int32()),
        "i": pa.array(ii, pa.int32()),
        "j": pa.array(jj, pa.int32()),
        "lat": pa.array(lat, pa.float64()),
        "lon": pa.array(lon, pa.float64()),
    }
    for var in inp.variables:
        vals = inp.values[var]
        for d, day in enumerate(inp.days):
            # (ens, ny, nx) -> cell-major, members innermost
            v = vals[:, d] if inp.n_ens else vals[d][None]
            flat = np.ascontiguousarray(np.moveaxis(v, 0, -1)).ravel()
            table = pa.table({**fixed, "value": pa.array(flat, pa.float64())})
            part = os.path.join(root, f"var={var}", f"time={day.isoformat()}")
            os.makedirs(part, exist_ok=True)
            pq.write_table(table, os.path.join(part, "part-0.zstd.parquet"),
                           compression="zstd")
    return root


def write_table(path: str, columns: dict[str, np.ndarray]) -> str:
    pq.write_table(pa.table(columns), path, compression="zstd")
    return path


INGEST_START = date(2020, 1, 1)


def ingest_value(seed: int, var_index: int, day: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Synthetic ingest cell value: a smooth field plus a hash-noise term,
    a pure function of (seed, variable, day, i, j) so the oracle can
    recompute any landed cell regardless of how tasks tiled the grid."""
    h = np.sin(i * 12.9898 + j * 78.233 + day * 37.719 + var_index * 4.1414 + seed * 0.618)
    noise = (h * 43758.5453) % 1.0
    return 270.0 + 10.0 * var_index + np.sin(i * 0.05) * 5.0 + np.cos(j * 0.03) * 5.0 + noise


def ingest_fetcher(task: dict):
    """Slice fetcher standing in for the OPeNDAP read: decodes one task's
    (variable, day window, cell tile) into GRID_SCHEMA long form. The
    task URL carries the seed and variable index:
    ``synthetic://conus/<var>?seed=<n>&k=<var index>&res=<degrees>``."""
    import pandas as pd

    query = dict(kv.split("=") for kv in task["url"].split("?", 1)[1].split("&"))
    seed, k = int(query["seed"]), int(query["k"])
    days = pd.date_range(task["t0"], task["t1"], freq="D")
    d0 = (task["t0"] - INGEST_START).days
    ii = np.arange(task["i0"], task["i1"] + 1, dtype=np.int32)
    jj = np.arange(task["j0"], task["j1"] + 1, dtype=np.int32)
    d, i, j = np.meshgrid(np.arange(len(days), dtype=np.int32), ii, jj, indexing="ij")
    d, i, j = d.ravel(), i.ravel(), j.ravel()
    res = float(query["res"])
    return pd.DataFrame(
        {
            "var": task["var"],
            "ens": np.full(len(i), -1, dtype=np.int32),
            "time": np.repeat(days.date, len(ii) * len(jj)),
            "i": i,
            "j": j,
            "lat": GridSpec.lat0 - i * res,
            "lon": GridSpec.lon0 + j * res,
            "value": ingest_value(seed, k, d0 + d, i, j),
        }
    )
