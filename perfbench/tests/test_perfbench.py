"""Tests of the benchmark itself: deterministic inputs, an oracle that
catches a wrong output, and printed metric names that match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = gen.GridSpec(24, 40, 0.1875)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_inputs(a: gen.GridInputs, b: gen.GridInputs) -> bool:
    arrays = ("w_fid", "w_i", "w_j", "w_wght", "f_id", "f_lat", "f_lon")
    return (
        all(np.array_equal(getattr(a, k), getattr(b, k)) for k in arrays)
        and a.values.keys() == b.values.keys()
        and all(np.array_equal(a.values[v], b.values[v], equal_nan=True) for v in a.values)
    )


def test_one_seed_generates_identical_inputs(tmp_path):
    a = gen.gridmet_inputs(5, SMALL, 4, 60)
    b = gen.gridmet_inputs(5, SMALL, 4, 60)
    assert _same_inputs(a, b)
    assert not _same_inputs(a, gen.gridmet_inputs(6, SMALL, 4, 60))
    c = gen.cfsv2_inputs(5, gen.GridSpec(6, 6, 0.9375), 4, 3, 10)
    assert _same_inputs(c, gen.cfsv2_inputs(5, gen.GridSpec(6, 6, 0.9375), 4, 3, 10))

    gen.land_grid(a, str(tmp_path / "a"))
    gen.land_grid(b, str(tmp_path / "b"))
    files = [os.path.relpath(p, tmp_path / "a") for p in oracle.parquet_files(str(tmp_path / "a"))]
    assert len(files) == 6 * 4
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files,
                                               shallow=False)
    assert (len(match), mismatch, errors) == (len(files), [], [])

    i, j = np.arange(10), np.arange(10)
    assert np.array_equal(gen.ingest_value(5, 1, 3, i, j), gen.ingest_value(5, 1, 3, i, j))
    assert not np.array_equal(gen.ingest_value(5, 1, 3, i, j), gen.ingest_value(6, 1, 3, i, j))


def _write_wide(path, inp: gen.GridInputs, expected: dict, n_days: int) -> None:
    """Write oracle arrays as the pipeline's (feature_id, time, ...) output."""
    fids = np.unique(inp.w_fid)
    f, d = np.meshgrid(np.arange(len(fids)), np.arange(n_days), indexing="ij")
    cols = {"feature_id": pa.array(fids[f.ravel()]),
            "time": pa.array([inp.days[k] for k in d.ravel()], pa.date32())}
    for name, a in expected.items():
        v = a[f.ravel(), d.ravel()]
        cols[name] = pa.array(v, mask=np.isnan(v))
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def _weight_that_matters(inp: gen.GridInputs) -> int:
    v = inp.values[inp.variables[0]]
    first = v.reshape(-1, *v.shape[-2:])[0]  # first day (and member)
    ok = ~np.isnan(first[inp.w_i, inp.w_j])
    fids, counts = np.unique(inp.w_fid[ok], return_counts=True)
    fid = fids[counts >= 2][0]
    return int(np.flatnonzero((inp.w_fid == fid) & ok)[0])


@pytest.mark.parametrize("pipeline", ["gridmet", "cfsv2_median"])
def test_oracle_rejects_one_perturbed_weight(tmp_path, pipeline):
    if pipeline == "gridmet":
        inp = gen.gridmet_inputs(3, SMALL, 2, 60)
        expected = oracle.gridmet_expected
        args = (2,)
    else:
        inp = gen.cfsv2_inputs(3, gen.GridSpec(6, 6, 0.9375), 4, 3, 10)
        expected = oracle.cfsv2_median_expected
        args = ()
    want = expected(inp, *args)
    n_days = len(inp.days)
    _write_wide(str(tmp_path / "good"), inp, want, n_days)
    assert oracle.check_output(str(tmp_path / "good"), inp, want, ["feature_id", "time"]) == []

    # one weight row off by 1%, in an HRU with two or more cells that
    # hold data, so that its weighted mean must move
    row = _weight_that_matters(inp)
    inp.w_wght[row] *= 1.01
    _write_wide(str(tmp_path / "bad"), inp, expected(inp, *args), n_days)
    inp.w_wght[row] /= 1.01
    errors = oracle.check_output(str(tmp_path / "bad"), inp, want, ["feature_id", "time"])
    assert errors and all("differ from the oracle" in e for e in errors)


def test_oracle_rejects_missing_and_duplicate_rows(tmp_path):
    inp = gen.gridmet_inputs(4, SMALL, 2, 30)
    want = oracle.gridmet_expected(inp, 2)
    _write_wide(str(tmp_path / "out"), inp, want, 2)
    t = pq.read_table(str(tmp_path / "out" / "part-0.parquet"))
    pq.write_table(t.slice(1), str(tmp_path / "out" / "part-0.parquet"))
    assert oracle.check_output(str(tmp_path / "out"), inp, want, ["feature_id", "time"])
    pq.write_table(pa.concat_tables([t, t.slice(0, 1)]),
                   str(tmp_path / "out" / "part-0.parquet"))
    assert oracle.check_output(str(tmp_path / "out"), inp, want, ["feature_id", "time"])


def test_metric_names_match_benchmark_json():
    from workloads import LAYER_METRICS, WORKLOADS

    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        detail = json.load(f)
    assert [w["name"] for w in detail["workloads"]] == [w["name"] for w in spec["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    """One short run of the real command; its last line carries exactly the
    metrics BENCHMARK.json names, with their units, and a passing check."""
    spec = _spec()
    out = subprocess.run(
        spec["command"] + ["--workload", "cfsv2_median_cycle", "--seed", "1",
                           "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    names = spec["per_layer"] if trace else spec["end_to_end"]
    assert {n: v["unit"] for n, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in names}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
