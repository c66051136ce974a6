"""The benchmark workloads: generate and land inputs, run the pipeline the
way a user runs it (inputs on disk → committed output files), check the
output against the numpy oracle, and, for the traced run, time each layer
on materialised inputs and read its counts from Spark's status store.

Every run drives only the program's public functions; the traced run adds
direct calls into ``operators.bbox``, ``operators.ensemble``,
``operators.weighted_agg`` and ``sources.ingest.fetch_grid``.
"""

from __future__ import annotations

import os
import statistics
from datetime import timedelta

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import gen
import oracle
from gridmet_etl_spark.operators.bbox import bbox_filter, feature_bounds, time_filter
from gridmet_etl_spark.operators.ensemble import ensemble_median
from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide
from gridmet_etl_spark.plans.cfsv2 import cfsv2_ensemble_pipeline, cfsv2_median_pipeline
from gridmet_etl_spark.plans.gridmet import gridmet_pipeline
from gridmet_etl_spark.sources.ingest import build_slice_tasks, fetch_grid, ingest_to_parquet
from gridmet_etl_spark.sources.readers import read_features, read_grid, read_weights_parquet
from gridmet_etl_spark.sources.writers import CFSV2_CALENDAR, write_output
from spans import Tracer, group_metrics

# CONUS gridMET extent (585 × 1386 cells at 1/24°) at 1/6 of the
# resolution, and a 12 × 12 tile of the ~0.94° CFSv2 grid.
CONUS_COARSE = gen.GridSpec(98, 231, 0.25)
CFSV2_TILE = gen.GridSpec(12, 12, 0.9375, lat0=45.0, lon0=-110.0)

# Layer metrics of the traced run, with units. A layer a workload does not
# run reports 0 there.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "sources.readers.scan_rows": "rows",
    "sources.readers.scan_bytes": "B",
    "sources.readers.files_read": "count",
    "sources.readers.exec_s": "s",
    "operators.bbox.feature_bounds_s": "s",
    "operators.bbox.rows_kept_frac": "ratio",
    "operators.bbox.exec_s": "s",
    "operators.weighted_agg.exec_s": "s",
    "operators.weighted_agg.join_rows": "rows",
    "operators.weighted_agg.shuffle_rows": "rows",
    "operators.weighted_agg.shuffle_bytes": "B",
    "operators.weighted_agg.spill_bytes": "B",
    "operators.weighted_agg.partial_reduction": "ratio",
    "operators.ensemble.exec_s": "s",
    "operators.ensemble.shuffle_bytes": "B",
    "operators.ensemble.spill_bytes": "B",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.finalize_self_s": "s",
    "sources.writers.write_s": "s",
    "sources.writers.files": "count",
    "sources.writers.bytes": "B",
    "sources.ingest.tasks": "count",
    "sources.ingest.fetch_s": "s",
    "sources.ingest.land_s": "s",
    "sources.ingest.compaction_shuffle_bytes": "B",
    "sources.ingest.files": "count",
    "sources.ingest.median_file_bytes": "B",
    "trace.run_s": "s",
    "trace.run_self_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
}

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialise(df):
    df = df.cache()
    return df, df.count()


class Workload:
    """One benchmark workload. Subclasses define the inputs, the timed
    run, the output check and the traced layer spans."""

    name = ""
    cells_per_run = 0  # input cell-values one run consumes

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def land(self, root: str) -> None:
        """Generate the seeded inputs and write them under ``root``."""
        raise NotImplementedError

    def run(self, out_dir: str) -> str:
        """Inputs on disk → committed output; returns the output path."""
        raise NotImplementedError

    def check(self, path: str) -> list[str]:
        """Problems found in the output at ``path``; empty when correct."""
        raise NotImplementedError

    def trace(self, tr: Tracer, run_id: int, scratch: str) -> tuple[dict, str]:
        """One traced run plus the isolated layer spans; returns the layer
        metrics and the traced run's output path."""
        raise NotImplementedError

    def sizes(self) -> dict:
        """The generated input's sizes, for the run's summary line."""
        raise NotImplementedError


class _GridWorkload(Workload):
    """Shared shape of the aggregation workloads."""

    keys: list[str] = []
    extra_keys: tuple[str, ...] = ()
    masked = False
    _expected = None

    def generate(self) -> gen.GridInputs:
        raise NotImplementedError

    def expected(self) -> dict:
        raise NotImplementedError

    def scan(self, grid):
        """The predicates the plan pushes into the grid scan."""
        return grid

    def pipeline(self, inputs: dict):
        raise NotImplementedError

    def write(self, df, out_dir: str) -> str:
        return write_output(df, out_dir)

    def land(self, root: str) -> None:
        inp = self.generate()
        gen.land_grid(inp, os.path.join(root, "landed_grid"))
        gen.write_table(os.path.join(root, "weights.parquet"), {
            "feature_id": inp.w_fid, "i": inp.w_i, "j": inp.w_j, "wght": inp.w_wght})
        gen.write_table(os.path.join(root, "features.parquet"), {
            "feature_id": inp.f_id, "lat": inp.f_lat, "lon": inp.f_lon})
        if inp.hru_elev is not None:
            gen.write_table(os.path.join(root, "elevation.parquet"), {
                "feature_id": inp.f_id, "hru_elev": inp.hru_elev})
        self.inp, self.root, self._expected = inp, root, None

    def read_inputs(self) -> dict:
        s, r = self.spark, self.root
        inputs = {
            "grid": read_grid(s, os.path.join(r, "landed_grid")),
            "weights": read_weights_parquet(s, os.path.join(r, "weights.parquet")),
            "features": read_features(s, os.path.join(r, "features.parquet")),
        }
        if self.inp.hru_elev is not None:
            inputs["elevation"] = s.read.parquet(os.path.join(r, "elevation.parquet"))
        return inputs

    def run(self, out_dir: str) -> str:
        return self.write(self.pipeline(self.read_inputs()), out_dir)

    def oracle_values(self) -> dict:
        """``expected()``, computed once per landed input."""
        if self._expected is None:
            self._expected = self.expected()
        return self._expected

    def check(self, path: str) -> list[str]:
        return oracle.check_output(path, self.inp, self.oracle_values(), self.keys)

    def sizes(self) -> dict:
        return {
            "cells_per_run": self.cells_per_run,
            "cells_landed": self.inp.cells,
            "nan_share": self.inp.nan_share(),
            "hrus": len(np.unique(self.inp.w_fid)),
            "weights_rows": len(self.inp.w_fid),
            "output_groups": int(np.prod(next(iter(self.oracle_values().values())).shape)),
        }

    def pre_agg(self, grid):
        """What the plan applies between the bbox filter and the weighted
        aggregation."""
        return grid

    def aggregate(self, inputs: dict, bounds: dict):
        """The plan up to and including the weighted aggregation."""
        kept = self.pre_agg(bbox_filter(self.scan(inputs["grid"]), bounds))
        return weighted_mean_wide(kept, inputs["weights"], self.inp.variables,
                                  masked=self.masked, extra_keys=self.extra_keys)

    def agg_input(self, grid, tr: Tracer, run_id: int, m: dict):
        """Materialised input of the weighted aggregation."""
        return grid

    def trace(self, tr: Tracer, run_id: int, scratch: str) -> tuple[dict, str]:
        m: dict = {}
        with tr.span("run", run_id) as run:
            with tr.span("sources.readers.call", run_id):
                inputs = self.read_inputs()
            with tr.span("plans.build", run_id) as build:
                out = self.pipeline(inputs)
            with tr.span("sources.writers.write", run_id):
                traced = self.write(out, os.path.join(scratch, "traced"))
        m["trace.run_s"] = run.duration
        m["trace.run_self_s"] = tr.self_time(run)
        m["plans.build_s"] = build.duration

        with tr.span("layers", run_id):
            with tr.span("operators.bbox.call", run_id) as sp:
                bounds = feature_bounds(inputs["features"])
            m["operators.bbox.feature_bounds_s"] = sp.duration

            scan = self.scan(self.read_inputs()["grid"])
            with tr.span("sources.readers.exec", run_id) as sp:
                _noop(scan)
            g = group_metrics(self.spark, sp)
            m["sources.readers.exec_s"] = sp.duration
            m["sources.readers.scan_rows"] = g.node_sum("Scan parquet", "number of output rows")
            m["sources.readers.scan_bytes"] = g.node_sum("Scan parquet", "size of files read")
            m["sources.readers.files_read"] = g.node_sum("Scan parquet", "number of files read")

            scanned, n_scanned = _materialise(scan)
            with tr.span("operators.bbox.exec", run_id) as sp:
                _noop(bbox_filter(scanned, bounds))
            m["operators.bbox.exec_s"] = sp.duration
            kept, n_kept = _materialise(bbox_filter(scanned, bounds))
            m["operators.bbox.rows_kept_frac"] = n_kept / max(n_scanned, 1)
            scanned.unpersist()

            agg_in = self.agg_input(kept, tr, run_id, m)
            with tr.span("operators.weighted_agg.exec", run_id) as sp:
                _noop(weighted_mean_wide(agg_in, inputs["weights"], self.inp.variables,
                                         masked=self.masked, extra_keys=self.extra_keys))
            g = group_metrics(self.spark, sp)
            join_rows = g.node_sum("BroadcastHashJoin", "number of output rows")
            m["operators.weighted_agg.exec_s"] = sp.duration
            m["operators.weighted_agg.join_rows"] = join_rows
            m["operators.weighted_agg.shuffle_rows"] = g.stages["shuffleWriteRecords"]
            m["operators.weighted_agg.shuffle_bytes"] = g.stages["shuffleWriteBytes"]
            m["operators.weighted_agg.spill_bytes"] = g.stages["diskBytesSpilled"]
            m["operators.weighted_agg.partial_reduction"] = join_rows / max(
                g.stages["shuffleWriteRecords"], 1)
            kept.unpersist()
            agg_in.unpersist()

            with tr.span("plans.exec", run_id) as sp:
                _noop(self.pipeline(self.read_inputs()))
            # the same plan without its finalize step (renames, unit
            # conversions, humidity, elevation join), on the same inputs
            fresh = self.read_inputs()
            with tr.span("plans.agg_exec", run_id) as agg:
                _noop(self.aggregate(fresh, bounds))
            m["plans.exec_s"] = sp.duration
            m["plans.finalize_self_s"] = sp.duration - agg.duration

            result, _ = _materialise(self.pipeline(self.read_inputs()))
            with tr.span("sources.writers.exec", run_id) as sp:
                self.write(result, os.path.join(scratch, "writers"))
            g = group_metrics(self.spark, sp)
            m["sources.writers.write_s"] = sp.duration
            m["sources.writers.files"] = g.node_sum(WRITE_NODE, "number of written files")
            m["sources.writers.bytes"] = g.stages["outputBytes"]
            result.unpersist()
        return m, traced


class GridmetConusWeek(_GridWorkload):
    name = "gridmet_conus_week"
    keys = ["feature_id", "time"]
    masked = True  # the --partial run
    spec = CONUS_COARSE
    n_landed_days, n_days, n_hru = 14, 7, 3000
    cells_per_run = 6 * n_days * spec.ny * spec.nx

    def generate(self):
        return gen.gridmet_inputs(self.seed, self.spec, self.n_landed_days, self.n_hru,
                                  max_side=3)

    def expected(self):
        return oracle.gridmet_expected(self.inp, self.n_days)

    def window(self) -> tuple[str, str]:
        d0 = self.inp.days[0]
        return d0.isoformat(), (d0 + timedelta(days=self.n_days - 1)).isoformat()

    def scan(self, grid):
        return time_filter(grid, *self.window())

    def pipeline(self, inputs: dict):
        return gridmet_pipeline(inputs["grid"], inputs["weights"], inputs["features"],
                                *self.window(), partial=True)

    def trace(self, tr: Tracer, run_id: int, scratch: str) -> tuple[dict, str]:
        """The aggregation layers, then the ingest layer: two of this
        workload's variables for 7 days landed on its grid through
        build_slice_tasks + ingest_to_parquet."""
        m, out = super().trace(tr, run_id, scratch)
        ingest = IngestConusDays(self.spark, self.seed)
        ingest.land(scratch)
        landing = os.path.join(scratch, "ingest")
        with tr.span("layers.ingest", run_id):
            m.update(ingest.land_spans(tr, run_id, landing))
            m.update(ingest.fetch_span(tr, run_id))
        errors = ingest.check(landing)
        if errors:
            raise AssertionError(f"ingest landing failed its check: {errors}")
        return m, out


class _Cfsv2(_GridWorkload):
    spec = CFSV2_TILE
    n_ens, n_days, n_hru = 48, 28, 84
    cells_per_run = 4 * n_ens * n_days * spec.ny * spec.nx

    def generate(self):
        return gen.cfsv2_inputs(self.seed, self.spec, self.n_ens, self.n_days, self.n_hru)

    def scan(self, grid):
        return grid.filter(F.col("var").isin(self.inp.variables))


class Cfsv2MedianCycle(_Cfsv2):
    name = "cfsv2_median_cycle"
    keys = ["feature_id", "time"]

    def expected(self):
        return oracle.cfsv2_median_expected(self.inp)

    def pipeline(self, inputs: dict):
        return cfsv2_median_pipeline(inputs["grid"], inputs["weights"], inputs["elevation"],
                                     inputs["features"])

    def write(self, df, out_dir: str) -> str:
        return write_output(df, out_dir, calendar=CFSV2_CALENDAR)

    def pre_agg(self, grid):
        return ensemble_median(grid)

    def agg_input(self, grid, tr, run_id, m):
        with tr.span("operators.ensemble.exec", run_id) as sp:
            _noop(ensemble_median(grid))
        g = group_metrics(self.spark, sp)
        m["operators.ensemble.exec_s"] = sp.duration
        m["operators.ensemble.shuffle_bytes"] = g.stages["shuffleWriteBytes"]
        m["operators.ensemble.spill_bytes"] = g.stages["diskBytesSpilled"]
        return _materialise(ensemble_median(grid))[0]


class Cfsv2MembersCycle(_Cfsv2):
    """Method 2 on the same cycle. Runnable, but not in BENCHMARK.json:
    see the not_gated entry in workloads.json."""

    name = "cfsv2_members_cycle"
    keys = ["feature_id", "ens", "time"]
    extra_keys = ("ens",)

    def expected(self):
        return oracle.cfsv2_members_expected(self.inp)

    def pipeline(self, inputs: dict):
        return cfsv2_ensemble_pipeline(inputs["grid"], inputs["weights"], inputs["elevation"],
                                       inputs["features"])

    def write(self, df, out_dir: str) -> str:
        return write_output(df, out_dir, partition_by=("ens",), calendar=CFSV2_CALENDAR)


class IngestConusDays(Workload):
    """The write path on its own. Runnable, but not in BENCHMARK.json (see
    the not_gated entry in workloads.json); its layer spans run inside the
    gridmet_conus_week traced run."""

    name = "ingest_conus_days"
    spec = CONUS_COARSE
    variables = ["tmmx", "tmmn"]
    n_days, tile_cells = 7, 64
    cells_per_run = len(variables) * n_days * spec.ny * spec.nx

    def land(self, root: str) -> None:
        # nothing to land: the fetcher synthesises each slice from the seed
        self.catalog = [
            {"URL": f"synthetic://conus/{v}?seed={self.seed}&k={k}&res={self.spec.res}",
             "variable": v}
            for k, v in enumerate(self.variables)
        ]

    def sizes(self) -> dict:
        tiles = -(-self.spec.ny // self.tile_cells) * -(-self.spec.nx // self.tile_cells)
        return {"cells_per_run": self.cells_per_run, "tasks": tiles * len(self.variables),
                "landed_partitions": len(self.variables) * self.n_days}

    def tasks(self):
        return build_slice_tasks(
            self.spark, self.catalog, gen.INGEST_START,
            gen.INGEST_START + timedelta(days=self.n_days - 1),
            bbox_cells=(0, self.spec.ny - 1, 0, self.spec.nx - 1),
            days_per_task=self.n_days, tile_cells=self.tile_cells)

    def run(self, out_dir: str) -> str:
        return ingest_to_parquet(self.tasks(), gen.ingest_fetcher, out_dir)

    def check(self, path: str) -> list[str]:
        """Every (variable, day, cell) landed exactly once, in its own
        (var, time) partition, with the value the fetcher synthesised."""
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        if t.num_rows != self.cells_per_run:
            return [f"{t.num_rows} landed cells, want {self.cells_per_run}"]
        k = np.array([self.variables.index(v) for v in t["var"].to_pylist()])
        day = (np.array(t["time"].to_pylist(), dtype="datetime64[D]")
               - np.datetime64(gen.INGEST_START, "D")).astype(int)
        i, j = t["i"].to_numpy(), t["j"].to_numpy()
        errors = []
        key = ((k * self.n_days + day) * self.spec.ny + i) * self.spec.nx + j
        if len(np.unique(key)) != self.cells_per_run:
            errors.append("some (var, time, i, j) cells landed twice or not at all")
        if not np.array_equal(t["value"].to_numpy(), gen.ingest_value(self.seed, k, day, i, j)):
            errors.append("landed values differ from the fetched slices")
        return errors

    def trace(self, tr: Tracer, run_id: int, scratch: str) -> tuple[dict, str]:
        landing = os.path.join(scratch, "traced")
        with tr.span("run", run_id) as run:
            m = self.land_spans(tr, run_id, landing)
        m["trace.run_s"] = run.duration
        m["trace.run_self_s"] = tr.self_time(run)
        with tr.span("layers", run_id):
            m.update(self.fetch_span(tr, run_id))
        return m, landing

    def land_spans(self, tr: Tracer, run_id: int, landing: str) -> dict:
        """The user's run, build_slice_tasks + ingest_to_parquet into
        ``landing``, as two spans."""
        with tr.span("sources.ingest.build", run_id):
            tasks = self.tasks()
        with tr.span("sources.ingest.land", run_id) as land:
            ingest_to_parquet(tasks, gen.ingest_fetcher, landing)
        g = group_metrics(self.spark, land)
        sizes = [os.path.getsize(p) for p in oracle.parquet_files(landing)]
        return {
            "sources.ingest.land_s": land.duration,
            "sources.ingest.compaction_shuffle_bytes": g.stages["shuffleWriteBytes"],
            "sources.ingest.files": g.node_sum(WRITE_NODE, "number of written files"),
            "sources.ingest.median_file_bytes": statistics.median(sizes),
        }

    def fetch_span(self, tr: Tracer, run_id: int) -> dict:
        """fetch_grid alone, forced to the noop sink on a cached task table."""
        tasks, n_tasks = _materialise(self.tasks())
        with tr.span("sources.ingest.fetch", run_id) as sp:
            _noop(fetch_grid(tasks, gen.ingest_fetcher))
        tasks.unpersist()
        return {"sources.ingest.tasks": n_tasks, "sources.ingest.fetch_s": sp.duration}


WORKLOADS = {w.name: w for w in (GridmetConusWeek, Cfsv2MedianCycle, Cfsv2MembersCycle,
                                 IngestConusDays)}
