"""S1-S9 source readers: schema application, catalog first-match semantics,
PRMS parser, THREDDS freshness gate (injected fetcher, no network)."""

import os
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.sources.prms import elevation_dataframe, read_elevation_values
from gridmet_etl_spark.sources.readers import (
    catalog_lookup,
    read_catalog,
    read_features,
    read_grid,
    read_weights_csv,
)
from gridmet_etl_spark.sources.thredds import check_freshness, parse_timespan_end


def test_read_grid_schema(spark, grid):
    assert [f.name for f in grid.schema.fields] == [
        "var", "ens", "time", "i", "j", "lat", "lon", "value",
    ]
    assert dict(grid.dtypes)["time"] == "date"
    assert dict(grid.dtypes)["value"] == "double"


def test_read_grid_defaults_ens(spark, grid):
    assert grid.select("ens").distinct().collect()[0].ens == -1


def test_read_weights_csv_fid_rename(spark, tmp_path):
    """The reference's weights header is `nhru_v1_1,i,j,wght` — first column
    becomes feature_id regardless of name (--fid, cli.py:76-82)."""
    p = tmp_path / "w.csv"
    p.write_text("nhru_v1_1,i,j,wght\n7,1,2,0.5\n7,1,3,0.5\n")
    w = read_weights_csv(spark, str(p))
    rows = w.collect()
    assert w.columns == ["feature_id", "i", "j", "wght"]
    assert rows[0].feature_id == 7 and rows[0].wght == 0.5


def test_catalog_lookup_first_match_ignores_decoys(spark, fixdir):
    cat = read_catalog(spark, os.path.join(fixdir, "catalog.parquet"))
    rec = catalog_lookup(cat, "gridmet", "tmmx")
    assert rec["units"] == "K" and rec["varname"] == "daily_maximum_temperature"
    rec2 = catalog_lookup(cat, "cfsv2_gridmet", "sph")
    assert rec2["units"] == "kg/kg"
    with pytest.raises(KeyError):
        catalog_lookup(cat, "nope", "tmmx")


def test_catalog_json_scan(spark, fixdir):
    """S4: JSON catalog (the reference's cfsv2.json path) reads to the same
    records as the parquet form."""
    cat_j = read_catalog(spark, os.path.join(fixdir, "catalog.json"))
    rec = catalog_lookup(cat_j, "cfsv2_gridmet", "sph")
    assert rec["units"] == "kg/kg"
    cat_p = read_catalog(spark, os.path.join(fixdir, "catalog.parquet"))
    assert cat_j.count() == cat_p.count()


def test_fill_map_roundtrip(spark, tmp_path):
    """S8+K3: persist the nearest-neighbor map, reload, scatter with the
    reloaded map — the reference's genmap=False reuse path."""
    from gridmet_etl_spark.operators.fill import read_fill_map
    from gridmet_etl_spark.sources.writers import write_fill_map_csv

    fmap = spark.createDataFrame(
        [(46, 3, 0.5), (47, 9, 0.7)], "missing_id long, donor_id long, distance double"
    )
    p = write_fill_map_csv(fmap, str(tmp_path))
    back = read_fill_map(spark, p)
    assert {tuple(r) for r in back.collect()} == {(46, 3, 0.5), (47, 9, 0.7)}


def test_prms_parser(spark, fixdir):
    vals = read_elevation_values(os.path.join(fixdir, "myparam.param"))
    assert len(vals) == 50
    assert all(0.0 <= v <= 3500.0 for v in vals)
    df = elevation_dataframe(spark, os.path.join(fixdir, "myparam.param"), list(range(1, 51)))
    row = df.filter(F.col("feature_idx") == 0).collect()[0]
    assert row.feature_id == 1 and row.hru_elev == pytest.approx(vals[0], abs=1e-6)


def test_prms_parser_missing_section(fixdir):
    with pytest.raises(KeyError):
        read_elevation_values(os.path.join(fixdir, "myparam.param"), "no_such_param")


THREDDS_XML = """<?xml version="1.0"?>
<gridDataset location="x">
  <TimeSpan><begin>1979-01-01T00:00:00Z</begin><end>{end}T00:00:00Z</end></TimeSpan>
</gridDataset>"""


def test_parse_timespan_end():
    assert parse_timespan_end(THREDDS_XML.format(end="2024-06-01")) == datetime(2024, 6, 1)


def test_check_freshness_gate():
    now = datetime(2024, 6, 3, 12, 0, tzinfo=timezone.utc)
    fresh = check_freshness(
        "http://x", ["a.nc"], fetch=lambda u: THREDDS_XML.format(end="2024-06-02"), now=now
    )
    stale = check_freshness(
        "http://x", ["a.nc"], fetch=lambda u: THREDDS_XML.format(end="2024-05-20"), now=now
    )
    assert fresh == {"a.nc": True}
    assert stale == {"a.nc": False}


def test_convert_features_dispatch(tmp_path):
    """S2: suffix dispatch mirrors the reference (etl.py:549-568) — parquet
    (file or dir) passes through; GIS formats convert via geopandas when
    importable, else raise the documented gate."""
    from gridmet_etl_spark.sources.readers import convert_features

    assert convert_features("/x/features.parquet") == "/x/features.parquet"
    assert convert_features("/x/features_dir") == "/x/features_dir"

    try:
        import geopandas  # noqa: F401

        has_gpd = True
    except ImportError:
        has_gpd = False

    if not has_gpd:
        # every GIS suffix now falls back to a vendored micro-reader
        # (.shp: shp_micro; .geojson/.gpkg: geojson_micro — round-6,
        # tests/test_geojson_micro.py covers them end-to-end) — a missing
        # file surfaces as the reader's I/O error, never a gate
        with pytest.raises(FileNotFoundError):
            convert_features("/x/features.shp")
        with pytest.raises(FileNotFoundError):
            convert_features("/x/features.geojson")
        import sqlite3

        with pytest.raises(sqlite3.OperationalError):
            convert_features("/x/features.gpkg")
    else:  # pragma: no cover - geopandas not in this container
        import geopandas as gpd
        from shapely.geometry import Polygon

        gdf = gpd.GeoDataFrame(
            {"feature_id": [1, 2]},
            geometry=[
                Polygon([(0, 0), (1, 0), (1, 1), (0, 1)]),
                Polygon([(2, 2), (3, 2), (3, 3), (2, 3)]),
            ],
            crs=4326,
        )
        shp = str(tmp_path / "f.shp")
        gdf.to_file(shp)
        out = convert_features(shp, out_path=str(tmp_path / "f.parquet"))
        back = pd.read_parquet(out)
        assert list(back.columns) == ["feature_id", "lat", "lon", "geometry"]
        assert back["lat"].tolist() == pytest.approx([0.5, 2.5])


def test_jsonl_corrupt_record_isolation(spark, tmp_path):
    """Malformed JSONL lines must not poison the read: PERMISSIVE mode
    parses good rows and captures bad lines in _corrupt_record for a
    quarantine sink (the 100 TB reality: some shard always has a bad
    line; FAILFAST would kill the whole job)."""
    import json as _json

    p = tmp_path / "docs.jsonl"
    lines = [
        _json.dumps({"doc_id": 1, "text": "good one", "lang": "en",
                     "source": "s", "n_chars": 8}),
        '{"doc_id": 2, "text": "broken',          # truncated JSON
        _json.dumps({"doc_id": 3, "text": "also good", "lang": "en",
                     "source": "s", "n_chars": 9}),
    ]
    p.write_text("\n".join(lines))
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long, _corrupt_record string")
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert {r["doc_id"] for r in good.collect()} == {1, 3}
    assert bad.count() == 1
    assert "broken" in bad.collect()[0]["_corrupt_record"]
    df.unpersist()
