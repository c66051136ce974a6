"""PRMS parameter-file parser (SURVEY §2.1 S7).

Reference: ``read_elevation_values`` (/root/reference/gridmet_etl/
helper.py:124-173) scans a sectioned text file for the ``hru_elev`` section,
skips 4 header lines (dims/type metadata), and reads float lines until the
``####`` delimiter. Tiny driver-side parse → DataFrame; positional index
preserved for the J5 positional elevation join (helper.py:189-193).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import ELEVATION_SCHEMA


def read_elevation_values(path: str, section: str = "hru_elev") -> list[float]:
    """Parse the float vector of a PRMS param section."""
    values: list[float] = []
    with open(path) as f:
        lines = [ln.rstrip("\n") for ln in f]
    try:
        start = next(idx for idx, ln in enumerate(lines) if ln.strip() == section)
    except StopIteration:
        raise KeyError(f"section {section!r} not found in {path}") from None
    # 4 header lines after the section name: ndim, dim name(s), size, dtype
    for ln in lines[start + 5 :]:
        if ln.strip().startswith("####"):
            break
        values.append(float(ln.strip()))
    return values


def elevation_dataframe(
    spark: SparkSession, path: str, feature_ids: list[int] | None = None
) -> DataFrame:
    """S7 → DataFrame with positional feature_idx and the feature_id the
    pipelines join on (J5): the caller's feature axis ordering when given,
    else the 1-based PRMS HRU number, feature_idx + 1."""
    vals = read_elevation_values(path)
    fids = feature_ids if feature_ids is not None else list(range(1, len(vals) + 1))
    if len(fids) != len(vals):
        raise ValueError(f"{len(vals)} elevations but {len(fids)} feature ids")
    rows = [(idx, int(fid), float(v)) for idx, (fid, v) in enumerate(zip(fids, vals))]
    return spark.createDataFrame(rows, ELEVATION_SCHEMA)
