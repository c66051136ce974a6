"""Numpy oracle for the pipelines' committed output.

Recomputes every output group from the generated inputs alone and compares
it with what the pipeline wrote: Σ w·v / Σ w over the HRU's weight cells
(masked mean: NaN cells drop out of both sums and an all-NaN group is
NULL; strict mean: the generator makes no missing cells), with the CFSv2
ensemble median taken first for method 1, and the same unit conversions
and humidity formulas as the pipelines. Row counts and keys must match
exactly; values to a relative 1e-9 (Spark sums in another order).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import GridInputs

KELVIN = 273.15
REL_TOL = 1e-9


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def parquet_rows(root: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(root))


def parquet_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(root))


def weighted_means(inp: GridInputs, cube: dict, masked: bool) -> dict:
    """Per variable, the (feature index, *leading dims of the cube) array of
    Σ w·v / Σ w. ``cube[var]`` has shape (..., ny, nx); feature index k is
    ``fids[k]`` with ``fids = np.unique(inp.w_fid)``."""
    fids, k = np.unique(inp.w_fid, return_inverse=True)
    out = {}
    for var, a in cube.items():
        lead = a.shape[:-2]
        v = a[..., inp.w_i, inp.w_j].reshape(-1, len(k))  # (lead, weight rows)
        w = np.broadcast_to(inp.w_wght, v.shape)
        ok = ~np.isnan(v) if masked else np.ones(v.shape, bool)
        num = np.zeros((len(fids), v.shape[0]))
        den = np.zeros_like(num)
        for r in range(v.shape[0]):
            num[:, r] = np.bincount(k, np.where(ok[r], w[r] * v[r], 0.0), len(fids))
            den[:, r] = np.bincount(k, np.where(ok[r], w[r], 0.0), len(fids))
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(den > 0, num / den, np.nan)
        out[var] = mean.reshape((len(fids),) + lead)
    return out


def relative_humidity(tmax_k, tmin_k, sph, elev):
    t_avg = (tmax_k + tmin_k) / 2.0
    p = 1013.25 * np.exp(-9.80665 * elev / (287.05 * t_avg))
    e = sph * p / 0.622
    tc = t_avg - KELVIN
    return e / (6.1094 * np.exp(17.625 * tc / (tc + 243.04))) * 100.0


def gridmet_expected(inp: GridInputs, n_days: int) -> dict:
    """gridmet_pipeline with ``partial=True`` over the first ``n_days``
    days: column → (feature index, day) array."""
    m = weighted_means(inp, {v: a[:n_days] for v, a in inp.values.items()}, masked=True)
    return {
        "tmax": m["tmmx"] - KELVIN,
        "tmin": m["tmmn"] - KELVIN,
        "prcp": m["pr"],
        "rhmax": m["rmax"],
        "rhmin": m["rmin"],
        "ws": m["vs"],
        "humidity": (m["rmin"] + m["rmax"]) / 2.0,
    }


def _cfsv2_columns(inp: GridInputs, m: dict) -> dict:
    fids = np.unique(inp.w_fid)
    elev = inp.hru_elev[fids - 1].reshape((-1,) + (1,) * (m["tmmx"].ndim - 1))
    return {
        "tmax": m["tmmx"] - KELVIN,
        "tmin": m["tmmn"] - KELVIN,
        "prcp": m["pr"],
        "humidity": relative_humidity(m["tmmx"], m["tmmn"], m["sph"], elev),
    }


def cfsv2_median_expected(inp: GridInputs) -> dict:
    """Method 1: member median per cell, then the strict weighted mean:
    column → (feature index, day) array."""
    med = {v: np.median(a, axis=0) for v, a in inp.values.items()}
    return _cfsv2_columns(inp, weighted_means(inp, med, masked=False))


def cfsv2_members_expected(inp: GridInputs) -> dict:
    """Method 2: column → (feature index, member, day) array."""
    return _cfsv2_columns(inp, weighted_means(inp, inp.values, masked=False))


def check_output(path: str, inp: GridInputs, expected: dict, keys: list[str]) -> list[str]:
    """Compare the committed output at ``path`` with the expected arrays,
    indexed by ``keys`` (feature_id, [ens,] time). Returns one message
    per problem found; an empty list means the output is correct."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    fids = np.unique(inp.w_fid)
    shape = next(iter(expected.values())).shape
    idx = []
    for key, size in zip(keys, shape):
        col = table[key].to_numpy()
        if key == "feature_id":
            pos = np.searchsorted(fids, col)
            pos[pos >= len(fids)] = 0
            ok = fids[pos] == col
        elif key == "time":
            pos = (col.astype("datetime64[D]") - np.datetime64(inp.days[0], "D")).astype(int)
            ok = (pos >= 0) & (pos < size)
        else:
            pos = col.astype(int)
            ok = (pos >= 0) & (pos < size)
        if not ok.all():
            return [f"{int((~ok).sum())} rows with a {key} outside the inputs"]
        idx.append(pos)
    errors = []
    n_groups = int(np.prod(shape))
    flat = np.ravel_multi_index(idx, shape)
    if len(flat) != n_groups or len(np.unique(flat)) != n_groups:
        errors.append(f"{len(flat)} rows, {len(np.unique(flat))} distinct keys, "
                      f"want {n_groups} groups once each")
    for col, want in expected.items():
        got = table[col].to_numpy(zero_copy_only=False).astype(float)
        want = want[tuple(idx)]
        both_missing = np.isnan(got) & np.isnan(want)
        close = np.abs(got - want) <= REL_TOL * np.maximum(1.0, np.abs(want))
        bad = int((~(both_missing | close)).sum())
        if bad:
            errors.append(f"column {col}: {bad} of {len(got)} values differ from the oracle")
    return errors
