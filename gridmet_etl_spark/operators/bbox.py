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


def coarsen_grid(
    grid: DataFrame,
    factor: int = 2,
    keys: tuple[str, ...] = ("var", "ens", "time"),
    value_col: str = "value",
) -> DataFrame:
    """Spatial regrid-by-aggregation: collapse each ``factor × factor``
    block of cells to its mean (the standard downsample step before
    coarse-resolution analysis or visualization; the reference's regrid
    path delegates to xarray coarsen-like slicing, etl.py:273-281 dims).

    One shuffle keyed (keys…, ci, cj) with map-side partial aggregation —
    shuffle volume is output-sized (input/factor²). NULLs (missing cells)
    are excluded per Spark/SQL avg semantics; ``n_cells`` exposes the
    divisor so a coverage-weighted consumer can re-weight.

    Output: (keys…, ci, cj, mean_value, n_cells).
    """
    ci = F.floor(F.col("i") / factor).cast("int").alias("ci")
    cj = F.floor(F.col("j") / factor).cast("int").alias("cj")
    return (
        grid.groupBy(*[F.col(k) for k in keys], ci, cj)
        .agg(
            F.round(F.avg(value_col), 6).alias("mean_value"),
            F.count(value_col).alias("n_cells"),
        )
    )


def focal_mean(
    grid: DataFrame,
    radius: int = 1,
    keys: tuple[str, ...] = ("var", "ens", "time"),
    value_col: str = "value",
) -> DataFrame:
    """Focal (neighborhood) mean: each cell's value averaged with its
    (2r+1)² spatial neighbors — the raster smoothing / focal-statistics
    primitive (xarray ``rolling(i=..., j=...).mean()`` analogue).

    SCATTER formulation, not a self-join: every cell emits one
    contribution row per neighborhood it belongs to (explode over the
    (2r+1)² offsets — row-local), then ONE shuffle keyed
    (keys…, ti, tj) partial-aggregates the sums. A join formulation would
    shuffle the grid twice and build a hash table per partition; the
    scatter's explode factor is the fixed 9 (r=1) and the shuffle volume
    is 9× cell count of (key, sum, count) partials — map-side combine
    collapses them before the wire. Edge cells average over their
    existing neighbors (``n_nbrs`` exposes the divisor); halo targets
    outside the grid are dropped by the final semi-join against the real
    cell set (broadcast — the distinct (i, j) relation is raster-sized,
    ~810k cells in the reference domain).

    Output: (keys…, i, j, focal_value, n_nbrs).
    """
    offs = [
        F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
        for di in range(-radius, radius + 1)
        for dj in range(-radius, radius + 1)
    ]
    contrib = grid.select(
        *[F.col(k) for k in keys],
        F.explode(F.array(*offs)).alias("_o"),
        F.col("i"),
        F.col("j"),
        F.col(value_col),
    ).select(
        *[F.col(k) for k in keys],
        (F.col("i") + F.col("_o.di")).alias("ti"),
        (F.col("j") + F.col("_o.dj")).alias("tj"),
        F.col(value_col),
    )
    agg = contrib.groupBy(*[F.col(k) for k in keys], "ti", "tj").agg(
        F.round(F.avg(value_col), 6).alias("focal_value"),
        F.count(value_col).alias("n_nbrs"),
    )
    cells = grid.select(F.col("i").alias("ti"), F.col("j").alias("tj")).distinct()
    return agg.join(F.broadcast(cells), ["ti", "tj"], "left_semi").select(
        *keys,
        F.col("ti").alias("i"),
        F.col("tj").alias("j"),
        "focal_value",
        "n_nbrs",
    )


def bilinear_interpolate(
    grid: DataFrame,
    points: DataFrame,
    y1: float,
    x1: float,
    res: float,
    keys: tuple[str, ...] = ("var", "time"),
    value_col: str = "value",
) -> DataFrame:
    """Bilinear interpolation of the gridded field to point locations —
    the point-sampling alternative to area-weight aggregation (the
    reference's grid→polygon path; stations/points want this form).

    Geometry: fractional cell coords fi = (y1 − lat)/res (descending-lat
    convention, bounds_to_cells), fj = (lon − x1)/res. Each point scatters
    to its 4 surrounding corners with weights (1−di)(1−dj) etc — a
    row-local explode on the POINT side (|points| × 4 rows, broadcast);
    the grid is probed by an equi-join on (i, j) and never shuffles.
    Missing corners (edge/NULL cells) renormalize by the present weight
    mass. One output-sized aggregation keyed (feature, keys…).

    Output: (feature_id, keys…, interp_value, w_mass).
    """
    fi = (F.lit(y1) - F.col("lat")) / F.lit(res)
    fj = (F.col("lon") - F.lit(x1)) / F.lit(res)
    corners = [
        F.struct(F.lit(a).alias("da"), F.lit(b).alias("db"))
        for a in (0, 1)
        for b in (0, 1)
    ]
    pts = (
        points.select(
            "feature_id",
            F.floor(fi).cast("int").alias("i0"),
            F.floor(fj).cast("int").alias("j0"),
            (fi - F.floor(fi)).alias("di"),
            (fj - F.floor(fj)).alias("dj"),
        )
        .select(
            "feature_id",
            F.explode(F.array(*corners)).alias("_c"),
            "i0", "j0", "di", "dj",
        )
        .select(
            "feature_id",
            (F.col("i0") + F.col("_c.da")).alias("i"),
            (F.col("j0") + F.col("_c.db")).alias("j"),
            (
                (1 - F.abs(F.col("di") - F.col("_c.da")))
                * (1 - F.abs(F.col("dj") - F.col("_c.db")))
            ).alias("w"),
        )
    )
    joined = grid.join(F.broadcast(pts), ["i", "j"])
    v = F.col(value_col)
    return (
        joined.groupBy("feature_id", *[F.col(k) for k in keys])
        .agg(
            F.round(
                F.sum(F.col("w") * v) / F.sum(F.when(v.isNotNull(), F.col("w"))), 6
            ).alias("interp_value"),
            F.round(F.sum(F.when(v.isNotNull(), F.col("w"))), 6).alias("w_mass"),
        )
    )


def field_gradient(
    grid: DataFrame,
    keys: tuple[str, ...] = ("var", "ens", "time"),
    value_col: str = "value",
) -> DataFrame:
    """Central-difference gradient of a gridded field: ∂v/∂j (x / east),
    ∂v/∂i (y / north), magnitude, and aspect (atan2(dy, dx)) per cell —
    the terrain-slope / thermal-gradient primitive.

    Same SCATTER shape as ``focal_mean``: each cell emits 4 tagged
    contribution rows (to its N/S/E/W neighbors — row-local explode), ONE
    partial-agg shuffle reassembles each target cell's stencil via
    conditional MAX. Interior cells only (all four neighbors present);
    no self-joins, shuffle volume is 4× cells of constant-width partials.

    Output: (keys…, i, j, dx, dy, grad_mag, aspect).
    """
    offs = [
        # (di, dj, role): the neighbor AT (i+di, j+dj) receives this cell's
        # value tagged with the role it plays in THAT cell's stencil
        (0, 1, "w"),   # cell scatters east -> serves as target's west value
        (0, -1, "e"),
        (1, 0, "s"),   # cell scatters north (i+1) -> target's south value
        (-1, 0, "n"),
    ]
    contrib = grid.select(
        *[F.col(k) for k in keys],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(di).alias("di"), F.lit(dj).alias("dj"), F.lit(role).alias("role")
                    )
                    for di, dj, role in offs
                ]
            )
        ).alias("_o"),
        "i",
        "j",
        F.col(value_col).alias("v"),
    ).select(
        *[F.col(k) for k in keys],
        (F.col("i") + F.col("_o.di")).alias("ti"),
        (F.col("j") + F.col("_o.dj")).alias("tj"),
        F.col("_o.role").alias("role"),
        "v",
    )
    stencil = contrib.groupBy(*[F.col(k) for k in keys], "ti", "tj").agg(
        F.max(F.when(F.col("role") == "w", F.col("v"))).alias("vw"),
        F.max(F.when(F.col("role") == "e", F.col("v"))).alias("ve"),
        F.max(F.when(F.col("role") == "s", F.col("v"))).alias("vs"),
        F.max(F.when(F.col("role") == "n", F.col("v"))).alias("vn"),
        F.count("*").alias("_n"),
    )
    # + 0.0 everywhere a rounded value can be tiny-negative: engines round
    # to -0.0 vs +0.0 differently (the spi_index lesson); for atan2 the
    # zero-sign normalization must happen BEFORE the call (atan2(-0.0, x<0)
    # is -pi but atan2(+0.0, x<0) is +pi)
    dx = (F.col("ve") - F.col("vw")) / 2.0 + F.lit(0.0)
    dy = (F.col("vn") - F.col("vs")) / 2.0 + F.lit(0.0)
    return (
        stencil.where(F.col("_n") == 4)  # interior: full 4-point stencil
        .select(
            *[F.col(k) for k in keys],
            F.col("ti").alias("i"),
            F.col("tj").alias("j"),
            (F.round(dx, 6) + F.lit(0.0)).alias("dx"),
            (F.round(dy, 6) + F.lit(0.0)).alias("dy"),
            F.round(F.sqrt(dx * dx + dy * dy), 6).alias("grad_mag"),
            (F.round(F.atan2(dy, dx), 6) + F.lit(0.0)).alias("aspect"),
        )
    )


def hex_bin(
    df: DataFrame,
    size: float,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Axial hexagonal bin ids (pointy-top, circumradius ``size``) for each
    row — the standard equal-area-ish spatial rollup key (H3-style
    indexing reduced to its planar core). Appends (hq, hr) axial integer
    coordinates via cube rounding; group by them for hex density maps.

    Pure Column arithmetic inside codegen (fractional axial transform +
    cube round with the max-deviation fixup), row-local — a scan-speed
    key derivation at any corpus size, and the identical expression tree
    runs in DuckDB for oracle parity (round-half boundaries have measure
    zero for continuous coordinates)."""
    x, y = F.col(x_col), F.col(y_col)
    # sqrt (IEEE correctly-rounded) — NOT pow(x, 0.5), which is only
    # 1-ulp-accurate and could diverge from the oracle's sqrt
    qf = (F.sqrt(F.lit(3.0)) / 3.0 * x - y / 3.0) / F.lit(size)
    rf = (2.0 / 3.0 * y) / F.lit(size)
    sf = -qf - rf
    rq, rr, rs = F.round(qf, 0), F.round(rf, 0), F.round(sf, 0)
    dq, dr, ds = F.abs(rq - qf), F.abs(rr - rf), F.abs(rs - sf)
    # cube-round fixup: recompute the axis with the largest rounding error
    # from the other two so q + r + s = 0 stays exact
    hq = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    hr = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr)
    return df.withColumn("hq", hq.cast("long")).withColumn("hr", hr.cast("long"))
