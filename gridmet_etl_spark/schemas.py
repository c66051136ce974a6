"""Fixed StructType schemas for the engine's core tables (SURVEY.md §1).

Types mirror the reference's externally-imposed schemas: float64 measures,
int64 ids/indexes, DateType time (calendar encoding is a NetCDF-edge concern,
SURVEY §7), strings for catalog metadata. No nested types are needed for core
semantics; ``ArrayType(FloatType)`` appears only in the extension tables
(embeddings).

Reference citations: weights CSV dtypes (/root/reference/data/nhru_01a/
gm_nhru01_weights.csv:1), output dtypes (/root/reference/gm_header.md:12,63),
catalog columns (/root/reference/gridmet_etl/etl.py:648-655, cfsv2.json:2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Long-form gridded raster time series — the fact table. The reference's
# xarray dims (time, lat, lon) / (ens, time, lat, lon) become key columns
# (SURVEY §1.1). `ens` is -1 for non-ensemble datasets so one schema serves
# both pipelines; i/j are grid row/col indexes matching the weights table.
GRID_SCHEMA = T.StructType(
    [
        T.StructField("var", T.StringType(), False),
        T.StructField("ens", T.IntegerType(), False),
        T.StructField("time", T.DateType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), True),  # nullable: missing cells
    ]
)

# Cell↔feature area weights — the broadcast dimension of the core join (J1).
WEIGHTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("wght", T.DoubleType(), False),
    ]
)

# Polygon feature table; geometry opaque WKB, centroids first-class because
# only centroids are consumed by the engine (helper.py:58,69).
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("geometry", T.BinaryType(), True),
    ]
)

# Dataset catalog — consumed subset of the reference's 29-column ClimateR
# catalog (etl.py:648-655); tiny → driver-side lookup after filter (P1).
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("asset", T.StringType(), True),
        T.StructField("URL", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("varname", T.StringType(), True),
        T.StructField("variable", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("units", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("ensemble", T.StringType(), True),
        T.StructField("scenario", T.StringType(), True),
        T.StructField("T_name", T.StringType(), True),
        T.StructField("duration", T.StringType(), True),
        T.StructField("interval", T.StringType(), True),
        T.StructField("nT", T.IntegerType(), True),
        T.StructField("X_name", T.StringType(), True),
        T.StructField("Y_name", T.StringType(), True),
        T.StructField("X1", T.DoubleType(), True),
        T.StructField("Xn", T.DoubleType(), True),
        T.StructField("Y1", T.DoubleType(), True),
        T.StructField("Yn", T.DoubleType(), True),
        T.StructField("resX", T.DoubleType(), True),
        T.StructField("resY", T.DoubleType(), True),
        T.StructField("ncols", T.IntegerType(), True),
        T.StructField("nrows", T.IntegerType(), True),
        T.StructField("crs", T.StringType(), True),
        T.StructField("toptobottom", T.BooleanType(), True),
        T.StructField("tiled", T.StringType(), True),
        T.StructField("dim_order", T.StringType(), True),
    ]
)

# Per-feature elevation (PRMS param file parse, helper.py:124-173).
ELEVATION_SCHEMA = T.StructType(
    [
        T.StructField("feature_idx", T.LongType(), False),
        T.StructField("feature_id", T.LongType(), False),
        T.StructField("hru_elev", T.DoubleType(), False),
    ]
)

# Variable metadata registry: the engine's replacement for xarray/CF
# attributes + pint units (SURVEY §1.4). Keyed by short output name.
GRIDMET_VARS = {
    # short: (source_var, long_varname, units_in, units_out)
    "tmax": ("tmmx", "daily_maximum_temperature", "K", "degC"),
    "tmin": ("tmmn", "daily_minimum_temperature", "K", "degC"),
    "prcp": ("pr", "precipitation_amount", "mm", "mm"),
    "rhmax": ("rmax", "daily_maximum_relative_humidity", "%", "%"),
    "rhmin": ("rmin", "daily_minimum_relative_humidity", "%", "%"),
    "ws": ("vs", "daily_mean_wind_speed", "m/s", "m/s"),
}

CFSV2_VARS = {
    "tmax": ("tmmx", "Maximum temperature", "K", "degC"),
    "tmin": ("tmmn", "Minimum temperature", "K", "degC"),
    "prcp": ("pr", "Precipitation", "mm", "mm"),
    "sph": ("sph", "Specific humidity", "kg/kg", "kg/kg"),
}

# NetCDF-edge fill value (gm_header.md:13); in-engine missing is SQL NULL.
NETCDF_FILL_VALUE = 9.96920996838687e36
