#!/usr/bin/env python
"""One-time S5 ingest stress at reference geometry (VERDICT r8 item 4).

Drives the full slice-task ingest path — build_slice_tasks → mapInPandas
fetch fan-out → partitioned zstd parquet landing — for ONE synthetic
DAP-served year at the real gridMET CONUS grid (585 × 1386 cells, 365 daily
steps ≈ 296M cells per variable; the reference's etl.py:273-281 fetches the
same geometry through xarray/OPeNDAP serially). It reports task sizing,
throughput, and the on-disk partition layout for SCALE.md; the repeatable
small-scale ingest workload is perfbench's ``ingest_conus_days``.

Usage: python tools/ingest_stress.py [--days 365] [--vars 1]
       [--batch-vars N] [--out DIR]
Prints one JSON line with timings + partition stats.

``--vars 6`` runs the reference's real production unit — the 6 gridMET
variables (tmmx tmmn pr rmax rmin vs) the reference fetches per year
(etl.py:273-281 loops them serially) — 6 x 296M = 1.78B cells through the
slice-task DAG. Default is ONE DAG (one task relation, one mapInPandas
fan-out, one output-sized compaction exchange, one partitioned write);
``--batch-vars N`` lands the variables in batches of N (append mode) —
each batch is still the full single-DAG path, but the local scratch disk
only ever holds one batch's compaction shuffle. Measured: the 6-var
one-shot shuffle writes ~75 GB of lz4 map output, more than this box's
free scratch; a 1000-executor cluster spreads the same exchange at
~75 MB/executor, so the one-shot IS the cluster shape — batching is the
single-box harness accommodation (and mirrors the reference's own
per-variable loop). This tool also sets
``spark.io.compression.codec=zstd`` (shuffle + spill): on this data zstd
roughly halves shuffle bytes vs lz4 for ~no CPU penalty at level 1.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from datetime import date, timedelta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _conus_fetcher(task: dict):
    """Synthetic DAP decode at real wire geometry: one numpy-vectorized
    long-form slice per task (the production fetcher's to_dataframe step);
    value is a deterministic function of (i, j, day)."""
    import numpy as np
    import pandas as pd

    days = pd.date_range(task["t0"], task["t1"], freq="D")
    ii = np.arange(task["i0"], task["i1"] + 1, dtype=np.int32)
    jj = np.arange(task["j0"], task["j1"] + 1, dtype=np.int32)
    d, i, j = np.meshgrid(
        np.arange(len(days), dtype=np.int32), ii, jj, indexing="ij"
    )
    d, i, j = d.ravel(), i.ravel(), j.ravel()
    return pd.DataFrame(
        {
            "var": task["var"],
            "ens": np.full(len(i), -1, dtype=np.int32),
            "time": np.repeat(days.date, len(ii) * len(jj)),
            "i": i,
            "j": j,
            "lat": 49.4 - i * (1.0 / 24.0),
            "lon": -124.8 + j * (1.0 / 24.0),
            "value": np.sin(i * 0.1) + np.cos(j * 0.1) + d * 0.01 + 285.0,
        }
    )


def main() -> int:
    days = 365
    if "--days" in sys.argv:
        days = int(sys.argv[sys.argv.index("--days") + 1])
    n_vars = 1
    if "--vars" in sys.argv:
        n_vars = int(sys.argv[sys.argv.index("--vars") + 1])
    batch_vars = n_vars
    if "--batch-vars" in sys.argv:
        batch_vars = int(sys.argv[sys.argv.index("--batch-vars") + 1])
    out = os.path.join(REPO, ".sfscale", "ingest_landing")
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
    # the reference's production unit: 6 gridMET variables per year
    all_vars = ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"][:n_vars]

    from gridmet_etl_spark.session import get_spark
    from gridmet_etl_spark.sources.ingest import (
        build_slice_tasks,
        ingest_to_parquet,
    )

    spark = get_spark(
        app_name="ingest_stress",
        # zstd shuffle/spill: the compaction exchange carries every cell
        # once; zstd ~halves the on-disk map output vs lz4 on this data
        extra_conf={"spark.io.compression.codec": "zstd"},
    )
    start = date(2020, 1, 1)
    end = start + timedelta(days=days - 1)
    if os.path.isdir(out):
        shutil.rmtree(out)
    batches = [
        all_vars[i : i + batch_vars] for i in range(0, len(all_vars), batch_vars)
    ]
    t0 = time.perf_counter()
    n_tasks = 0
    for bi, batch in enumerate(batches):
        tasks = build_slice_tasks(
            spark,
            [{"URL": f"synthetic://conus/{v}", "variable": v} for v in batch],
            start,
            end,
            bbox_cells=(0, 584, 0, 1385),
            days_per_task=8,
            tile_cells=128,
        )
        n_tasks += tasks.count()
        ingest_to_parquet(
            tasks, _conus_fetcher, out, mode="overwrite" if bi == 0 else "append"
        )
        # between batches: drop the finished batch's shuffle files NOW
        # (ContextCleaner runs on driver GC; without the nudge the scratch
        # footprint accumulates across batches and defeats the batching)
        if len(batches) > 1:
            spark.sparkContext._jvm.System.gc()
            time.sleep(2)
    wall = time.perf_counter() - t0

    back = spark.read.parquet(out)
    n_rows = back.count()
    # landing layout stats: partition count and file-size distribution —
    # the pruning granularity every downstream P2/P3 predicate sees
    sizes = []
    for root, _dirs, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    n_parts = len(
        [d for d in os.listdir(out) if d.startswith("var=")]
    ) and sum(
        1
        for root, dirs, _f in os.walk(out)
        if not dirs  # leaf partition dirs
    )
    rec = {
        "geometry": "585x1386 CONUS daily",
        "vars": len(all_vars),
        "days": days,
        "cells": n_rows,
        "tasks": n_tasks,
        "rows_per_task_max": 8 * 128 * 128,
        "wall_sec": round(wall, 1),
        "cells_per_sec": int(n_rows / wall),
        "leaf_partitions": n_parts,
        "files": len(sizes),
        "bytes_total": sum(sizes),
        "file_bytes_p50": sorted(sizes)[len(sizes) // 2] if sizes else 0,
        "file_bytes_max": max(sizes) if sizes else 0,
    }
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
