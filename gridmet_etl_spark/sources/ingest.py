"""Ingest boundary for remote rasters (SURVEY §2.1 S5).

The reference opens OPeNDAP endpoints lazily via xarray and lets the server
slice (etl.py:273-281). Spark has no vanilla OPeNDAP source, so the engine
defines an INGEST JOB: a slice-task table (one row per (var, time-chunk,
spatial tile)) fanned out with ``mapInPandas`` — each task fetches its slice
through an injectable fetcher and emits long-form grid rows. The same bbox +
period predicates the reference pushes into OPeNDAP (P2/P3) are applied
per-task BEFORE materialization, so the ingest moves only the needed cells.

The default fetcher requires a NetCDF/OPeNDAP client (not in this
container); tests inject a synthetic fetcher. The distributed plumbing —
task generation, fan-out, schema, partitioned landing — is real.

At production scale: tasks ≈ nT/chunk × tiles; each task is one HTTP range
read; the landing write partitions by (var, date) so every downstream query
prunes. This replaces the reference's single-process fetch with an
embarrassingly parallel stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import GRID_SCHEMA

SliceFetcher = Callable[[dict], pd.DataFrame]
"""(task row dict) -> long-form pdf with columns
   var, ens, time, i, j, lat, lon, value for that slice."""

TASK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("var", T.StringType(), False),
        T.StructField("t0", T.DateType(), False),
        T.StructField("t1", T.DateType(), False),
        T.StructField("i0", T.IntegerType(), False),
        T.StructField("i1", T.IntegerType(), False),
        T.StructField("j0", T.IntegerType(), False),
        T.StructField("j1", T.IntegerType(), False),
    ]
)


def build_slice_tasks(
    spark: SparkSession,
    catalog_records: list[dict],
    start: date,
    end: date,
    bbox_cells: tuple[int, int, int, int],
    days_per_task: int = 30,
    tile_cells: int = 128,
) -> DataFrame:
    """Task table: (url, var, time window, cell-index tile), pre-filtered to
    the bbox (the P2 pushdown, applied at task construction — nothing outside
    the feature bounds is ever fetched)."""
    i0, i1, j0, j1 = bbox_cells
    rows = []
    for rec in catalog_records:
        t = start
        while t <= end:
            t_hi = min(t + timedelta(days=days_per_task - 1), end)
            for ti in range(i0, i1 + 1, tile_cells):
                for tj in range(j0, j1 + 1, tile_cells):
                    rows.append(
                        (
                            rec["URL"],
                            rec["variable"],
                            t,
                            t_hi,
                            ti,
                            min(ti + tile_cells - 1, i1),
                            tj,
                            min(tj + tile_cells - 1, j1),
                        )
                    )
            t = t_hi + timedelta(days=1)
    return spark.createDataFrame(rows, TASK_SCHEMA)


def fetch_grid(tasks: DataFrame, fetcher: SliceFetcher) -> DataFrame:
    """Fan the slice tasks out across executors; each task fetches its slice
    and yields long-form rows. One task = one remote read = one Arrow batch
    stream — no shuffle; repartition count = parallel fetch width."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for task in pdf.to_dict(orient="records"):
                out = fetcher(task)
                if out is not None and len(out):
                    yield out[[f.name for f in GRID_SCHEMA.fields]]

    return tasks.repartition(max(tasks.count(), 1)).mapInPandas(_fetch, GRID_SCHEMA)


def ingest_to_parquet(
    tasks: DataFrame,
    fetcher: SliceFetcher,
    landing_dir: str,
    compact: bool = True,
    mode: str = "overwrite",
) -> str:
    """Materialize the fetched grid partitioned by (var, time) — the layout
    every downstream P2/P3 predicate prunes against.

    ``compact`` (default): repartition by the partition columns before the
    write. Without it every fetch task spills a sliver into EVERY (var,
    day) directory its slice touches — measured at the full CONUS year
    (296M cells, 2,530 tasks): 19,995 files, p50 118 KB, the classic
    small-files failure that taxes every later scan's footer reads and the
    namenode at 100 TB. The compaction exchange is output-sized (it
    carries each row once, keyed by its landing partition) and yields one
    ~7 MB zstd file per (var, day) — measured 365 files at the same
    geometry. Callers that re-ingest tiny incremental slices can pass
    ``compact=False`` to skip the exchange. ``mode="append"`` lets callers
    land disjoint work batches (e.g. variable-by-variable) into one tree —
    the per-variable batching the reference's own serial loop implies."""
    grid = fetch_grid(tasks, fetcher)
    if compact:
        grid = grid.repartition("var", "time")
    (
        grid.write.mode(mode)
        .partitionBy("var", "time")
        .option("compression", "zstd")
        .parquet(landing_dir)
    )
    return landing_dir


def make_opendap_fetcher(
    catalog_rec: dict, open_dataset: Callable[[str], object] | None = None
) -> SliceFetcher:
    """Build the production fetcher for one catalog record: OPeNDAP slice
    read → GRID_SCHEMA long form.

    The dim/var mapping comes from the catalog record the way the reference
    drives xarray (etl.py:273-281: ``T_name``/``X_name``/``Y_name`` name the
    dataset's dims, ``varname`` the source variable, ``variable`` the short
    output name); cell indexes are recomputed against the FULL grid origin
    (X1/Y1/res, descending-lat when ``toptobottom`` is false — the same
    arithmetic as bbox.bounds_to_cells) so they join the weights table.

    ``open_dataset`` is the injectable network boundary (url → object with
    the xarray Dataset API: isel/sel/__getitem__/to_dataframe). It defaults
    to ``xr.open_dataset``, imported lazily — tests run the full mapping on
    a synthetic in-memory dataset with no netCDF client or network."""
    t_name = catalog_rec["T_name"]
    x_name = catalog_rec["X_name"]
    y_name = catalog_rec["Y_name"]
    varname = catalog_rec["varname"]
    variable = catalog_rec["variable"]
    x1, y1 = float(catalog_rec["X1"]), float(catalog_rec["Y1"])
    res_x, res_y = float(catalog_rec["resX"]), float(catalog_rec["resY"])
    top_to_bottom = bool(catalog_rec.get("toptobottom", False))

    def _fetch(task: dict) -> pd.DataFrame:
        opener = open_dataset
        if opener is None:
            try:
                import xarray as xr

                opener = xr.open_dataset
            except ImportError:
                # pure-python DAP2 client (sources/dap_micro.py): real
                # .dods wire-format parsing with the xarray sub-API this
                # fetcher drives — no xarray/netCDF4/pydap needed
                from .dap_micro import open_dods

                opener = open_dods
        ds = opener(task["url"])
        sub = ds.isel(
            {
                y_name: slice(task["i0"], task["i1"] + 1),
                x_name: slice(task["j0"], task["j1"] + 1),
            }
        ).sel({t_name: slice(str(task["t0"]), str(task["t1"]))})
        df = sub[varname].to_dataframe().reset_index()
        df = df.rename(
            columns={t_name: "time", y_name: "lat", x_name: "lon", varname: "value"}
        )
        if "ens" not in df.columns:
            df["ens"] = -1
        df["ens"] = df["ens"].astype("int32")
        df["var"] = variable
        # day collapse: sub-daily coordinates (e.g. 6-hourly CFSv2 slices,
        # kept distinct by dap_micro/xarray datetime coords) map onto the
        # same date label, so a cell-day carries one row per timestep.
        # Downstream weighted_mean_wide groups by (feature, time): each slice
        # contributes weight w, so the result is the area-weighted DAILY
        # MEAN of the sub-daily values — the semantics a daily pipeline
        # wants (pinned by test_dap_micro's sub-daily ingest test). The
        # reference's own feeds are daily, where this is a no-op.
        df["time"] = pd.to_datetime(df["time"]).dt.date
        # full-grid cell indexes (the weights-table join keys); row index
        # counts from the NORTH edge when lat is stored descending
        if top_to_bottom:
            df["i"] = ((df["lat"] - y1) / res_y).round().astype("int32")
        else:
            df["i"] = ((y1 - df["lat"]) / res_y).round().astype("int32")
        df["j"] = ((df["lon"] - x1) / res_x).round().astype("int32")
        # engine convention: missing is SQL NULL, never NaN (the nullable
        # Float64 conversion maps NaN -> NA -> Arrow null)
        df["value"] = pd.array(df["value"], dtype="Float64")
        return df[[f.name for f in GRID_SCHEMA.fields]]

    return _fetch
