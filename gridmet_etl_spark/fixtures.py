"""Deterministic (seed=42) synthetic domain fixtures per FIXTURES.md.

Generates the reference-shaped tables — grid, grid_ens, weights, features,
catalog, elevation — as parquet under ``fixtures/`` so both Spark and the
DuckDB oracle can read identical inputs. Pure pandas/numpy generation (tiny
data); Spark only ever reads the parquet.

Run: ``python -m gridmet_etl_spark.fixtures [outdir]``
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

SEED = 42

GRID_N = 40  # fixture grid 40x40 ⊂ real 585x1386 (cfsv2.json:2)
ENS_GRID_N = 12
N_DAYS = 7
N_ENS_DAYS = 7  # t1-sized (FIXTURES.md §2)
N_ENS = 48
N_FEATURES = 50
N_MISSING_FEATURES = 5  # features with no weights → exercise fill path
RES = 0.04167
Y1 = 49.4  # lat descending ("toptobottom": false, cfsv2.json:2)
X1 = -124.76667

GRIDMET_SOURCE_VARS = ["tmmx", "tmmn", "pr", "rmax", "rmin", "vs"]  # etl.py:587
CFSV2_SOURCE_VARS = ["tmmx", "tmmn", "pr", "sph"]  # etl.py:110


def _value_field(rng, var: str, i, j, day, ens_jitter=0.0):
    """Smooth deterministic field per FIXTURES.md §1, vectorized."""
    base = 10.0 * np.sin(i / 5.0) + 5.0 * np.cos(j / 7.0) + day * 0.1 + ens_jitter
    if var in ("tmmx", "tmmn"):
        v = 280.0 + base + (3.0 if var == "tmmx" else -3.0)
    elif var == "pr":
        v = np.maximum(0.0, base - 5.0)
    elif var in ("rmax", "rmin"):
        v = np.clip(50.0 + 3.0 * base, 0.0, 100.0)
    elif var == "vs":
        v = np.abs(base) / 2.0 + 0.5
    elif var == "sph":
        v = 0.001 + (np.abs(base) % 1.0) * 0.019
    else:
        v = base
    return v


def make_grid() -> pd.DataFrame:
    rng = np.random.default_rng(SEED)
    days = pd.date_range("1980-01-01", periods=N_DAYS, freq="D").date
    ii, jj = np.meshgrid(np.arange(GRID_N), np.arange(GRID_N), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    frames = []
    for var in GRIDMET_SOURCE_VARS:
        for d_idx, d in enumerate(days):
            v = _value_field(rng, var, ii, jj, d_idx)
            null_mask = rng.random(len(ii)) < 0.02  # ~2% nulls → masked_mean
            v = np.where(null_mask, np.nan, v)
            frames.append(
                pd.DataFrame(
                    {
                        "var": var,
                        "ens": np.int32(-1),
                        "time": d,
                        "i": ii.astype(np.int32),
                        "j": jj.astype(np.int32),
                        "lat": Y1 - ii * RES,
                        "lon": X1 + jj * RES,
                        "value": v,
                    }
                )
            )
    return pd.concat(frames, ignore_index=True)


def make_grid_ens() -> pd.DataFrame:
    rng = np.random.default_rng(SEED + 1)
    days = pd.date_range("2024-06-01", periods=N_ENS_DAYS, freq="D").date
    ii, jj = np.meshgrid(np.arange(ENS_GRID_N), np.arange(ENS_GRID_N), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    frames = []
    for var in CFSV2_SOURCE_VARS:
        for ens in range(N_ENS):
            jitter = rng.normal(0.0, 1.5)
            for d_idx, d in enumerate(days):
                v = _value_field(rng, var, ii, jj, d_idx, ens_jitter=jitter)
                frames.append(
                    pd.DataFrame(
                        {
                            "var": var,
                            "ens": np.int32(ens),
                            "time": d,
                            "i": ii.astype(np.int32),
                            "j": jj.astype(np.int32),
                            "lat": Y1 - ii * RES,
                            "lon": X1 + jj * RES,
                            "value": v,
                        }
                    )
                )
    return pd.concat(frames, ignore_index=True)


def make_weights(grid_n: int = GRID_N, name: str = "weights") -> pd.DataFrame:
    """Per-feature cell weights. ~90% of features sum to 1.0, rest in
    [0.82, 1.0) — the measured invariant of the real weights file
    (gm_nhru01_weights.csv; BASELINE.md)."""
    rng = np.random.default_rng(SEED + 2)
    rows = []
    for fid in range(1, N_FEATURES + 1 - N_MISSING_FEATURES):
        n_cells = int(rng.integers(8, 15))
        # keep the 5x5 neighborhood fully inside the grid so n_cells distinct
        # cells always exist (clamped corners would dedup to <n_cells)
        ci = int(rng.integers(2, grid_n - 2))
        cj = int(rng.integers(2, grid_n - 2))
        seen = set()
        cells = []
        while len(cells) < n_cells:
            di, dj = int(rng.integers(-2, 3)), int(rng.integers(-2, 3))
            i, j = min(max(ci + di, 0), grid_n - 1), min(max(cj + dj, 0), grid_n - 1)
            if (i, j) not in seen:
                seen.add((i, j))
                cells.append((i, j))
        w = rng.random(len(cells)) + 0.05
        total = 1.0 if rng.random() < 0.9 else float(rng.uniform(0.82, 1.0))
        w = w / w.sum() * total
        for (i, j), ww in zip(cells, w):
            rows.append((fid, i, j, float(ww)))
    return pd.DataFrame(rows, columns=["feature_id", "i", "j", "wght"]).astype(
        {"feature_id": np.int64, "i": np.int32, "j": np.int32, "wght": np.float64}
    )


def make_features() -> pd.DataFrame:
    rng = np.random.default_rng(SEED + 3)
    fids = np.arange(1, N_FEATURES + 1, dtype=np.int64)
    return pd.DataFrame(
        {
            "feature_id": fids,
            "lat": Y1 - rng.uniform(0, GRID_N * RES, N_FEATURES),
            "lon": X1 + rng.uniform(0, GRID_N * RES, N_FEATURES),
        }
    )


def make_polygons() -> pd.DataFrame:
    """Star-convex polygon ring per feature (seed-42 deterministic): k∈[5,9]
    vertices at evenly spaced angles with per-vertex radii 0.05–0.28°,
    centered on the make_features() points. Vertex coordinates are
    irrational-ish (uniform draws), so no grid cell center or 3×3
    subsample point lands exactly on an edge — the ray-cast
    inside/outside test is boundary-unambiguous across engines. Ring is
    implicitly closed (last vertex → first). Columns: (feature_id,
    xs: list<double> lon, ys: list<double> lat)."""
    rng = np.random.default_rng(SEED + 9)
    feats = make_features()
    rows = []
    for fid, flat, flon in feats[["feature_id", "lat", "lon"]].itertuples(index=False):
        k = int(rng.integers(5, 10))
        rot = rng.uniform(0, 2 * np.pi)
        ang = rot + np.linspace(0, 2 * np.pi, k, endpoint=False)
        rad = rng.uniform(0.05, 0.28, k)
        rows.append(
            (
                np.int64(fid),
                list(np.asarray(flon + rad * np.cos(ang), dtype=np.float64)),
                list(np.asarray(flat + rad * np.sin(ang), dtype=np.float64)),
            )
        )
    return pd.DataFrame(rows, columns=["feature_id", "xs", "ys"])


def make_catalog(fixdir: str) -> pd.DataFrame:
    """Consumed catalog subset + decoy rows so first-match semantics (P1,
    etl.py:659-662) are observable."""
    rows = []
    meta = {
        "tmmx": ("daily_maximum_temperature", "K"),
        "tmmn": ("daily_minimum_temperature", "K"),
        "pr": ("precipitation_amount", "mm"),
        "rmax": ("daily_maximum_relative_humidity", "%"),
        "rmin": ("daily_minimum_relative_humidity", "%"),
        "vs": ("daily_mean_wind_speed", "m/s"),
        "sph": ("specific_humidity", "kg/kg"),
    }
    for ds_id, variables, n in (
        ("gridmet", GRIDMET_SOURCE_VARS, GRID_N),
        ("cfsv2_gridmet", CFSV2_SOURCE_VARS, ENS_GRID_N),
    ):
        for rank, var in enumerate(variables):
            varname, units = meta[var]
            rows.append(
                {
                    "id": ds_id,
                    "asset": f"agg_{var}",
                    "URL": os.path.join(
                        fixdir, "grid.parquet" if ds_id == "gridmet" else "grid_ens.parquet"
                    ),
                    "type": "opendap",
                    "varname": varname,
                    "variable": var,
                    "description": varname.replace("_", " "),
                    "units": units,
                    "model": ds_id,
                    "ensemble": "48 ensembles" if ds_id == "cfsv2_gridmet" else None,
                    "scenario": None,
                    "T_name": "day",
                    "duration": "1979-01-01/..",
                    "interval": "1 day",
                    "nT": N_DAYS if ds_id == "gridmet" else N_ENS_DAYS,
                    "X_name": "lon",
                    "Y_name": "lat",
                    "X1": X1,
                    "Xn": X1 + (n - 1) * RES,
                    "Y1": Y1,
                    "Yn": Y1 - (n - 1) * RES,
                    "resX": RES,
                    "resY": RES,
                    "ncols": n,
                    "nrows": n,
                    "crs": "+proj=longlat +a=6378137 +f=0.00335281066474748 +pm=0 +no_defs",
                    "toptobottom": False,
                    "tiled": "",
                    "dim_order": "TYX",
                    "rank": rank,
                }
            )
            # decoy row: same variable, different id — P1 must not match it
            rows.append({**rows[-1], "id": f"{ds_id}_monthly", "units": "decoy"})
    return pd.DataFrame(rows)


def make_elevation() -> pd.DataFrame:
    rng = np.random.default_rng(SEED + 4)
    fids = np.arange(1, N_FEATURES + 1, dtype=np.int64)
    return pd.DataFrame(
        {
            "feature_idx": np.arange(N_FEATURES, dtype=np.int64),
            "feature_id": fids,
            "hru_elev": rng.uniform(0.0, 3500.0, N_FEATURES),
        }
    )


def write_prms_param_file(path: str, elev: pd.DataFrame) -> None:
    """Raw PRMS text form (helper.py:154-161 format). Values are written at
    round-trip precision, so parsing the file gives the elevation parquet's
    table exactly."""
    with open(path, "w") as f:
        f.write("Description\n####\n")
        f.write("hru_elev\n1\nnhru\n%d\n2\n" % len(elev))
        for v in elev["hru_elev"]:
            f.write(f"{v!r}\n")
        f.write("####\n")
        f.write("other_param\n1\nnhru\n2\n1\n0\n0\n####\n")


def make_media(n: int = 64) -> pd.DataFrame:
    """Deterministic fake media table (seed-42): opaque binary payloads +
    typed metadata, the §multimodal storage model persisted so the binary
    column surface is DuckDB-oracle-checkable (md5-over-hex is portable)."""
    import numpy as np

    rng = np.random.default_rng(42)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.integers(256, 4096))
        payload = bytes(rng.integers(0, 256, size, dtype=np.uint8))
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "payload": payload,
                "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                "width": int(rng.integers(16, 256)) if kind == "image" else None,
                "height": int(rng.integers(16, 256)) if kind == "image" else None,
                "duration_ms": int(rng.integers(1000, 60000)) if kind != "image" else None,
            }
        )
    return pd.DataFrame(rows)


DOC_VOCAB = [
    "data", "spark", "query", "table", "join", "scan", "merge", "agg",
    "row", "key", "value", "batch", "stream", "window", "sort", "hash",
]

WEB_SENTENCE_VOCAB = DOC_VOCAB + ["the", "and", "with", "that", "of", "to"]
WEB_NAV_WORDS = ["home", "about", "contact", "login", "search"]


def make_webpages(n: int = 150) -> pd.DataFrame:
    """Deterministic multi-line web-page-ish documents (seed-42) for the
    C4/Gopher line-level cleaning rules: a mix of proper sentences (terminal
    punctuation, >=5 words), short nav-menu lines, bullet lines, ellipsis
    truncations, and a few pages poisoned with ``lorem ipsum`` or ``{`` so
    the page-drop rules fire. Single-space tokenization throughout so Spark
    and DuckDB word splits agree exactly."""
    rng = np.random.default_rng(SEED)
    rows = []
    for i in range(n):
        n_lines = int(rng.integers(3, 12))
        lines = []
        for _ in range(n_lines):
            kind = rng.choice(
                ["sentence", "short", "nav", "bullet", "ellipsis"],
                p=[0.55, 0.1, 0.1, 0.15, 0.1],
            )
            if kind == "sentence":
                n_tok = int(rng.integers(5, 15))
                words = list(rng.choice(WEB_SENTENCE_VOCAB, n_tok))
                end = rng.choice([".", "!", "?", '."'])
                lines.append(" ".join(words) + end)
            elif kind == "short":  # ends in punctuation but < 5 words
                n_tok = int(rng.integers(1, 4))
                lines.append(" ".join(rng.choice(WEB_SENTENCE_VOCAB, n_tok)) + ".")
            elif kind == "nav":  # no terminal punctuation
                n_tok = int(rng.integers(1, 5))
                lines.append(" ".join(rng.choice(WEB_NAV_WORDS, n_tok)))
            elif kind == "bullet":
                n_tok = int(rng.integers(2, 8))
                lines.append("- " + " ".join(rng.choice(WEB_SENTENCE_VOCAB, n_tok)))
            else:  # ellipsis truncation
                n_tok = int(rng.integers(3, 9))
                lines.append(" ".join(rng.choice(WEB_SENTENCE_VOCAB, n_tok)) + "...")
        text = "\n".join(lines)
        if i % 17 == 0:
            text += "\nthis page contains lorem ipsum placeholder text."
        if i % 23 == 0:
            text += '\nfunction f() { return 1; }'
        rows.append({"page_id": i, "url": f"https://example{i % 7}.test/p/{i}", "text": text})
    return pd.DataFrame(rows)


def generate(outdir: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    elev = make_elevation()
    tables = {
        "webpages": make_webpages(),
        "media": make_media(),
        "grid": make_grid(),
        "grid_ens": make_grid_ens(),
        "weights": make_weights(GRID_N),
        "weights_ens": make_weights(ENS_GRID_N, "weights_ens"),
        "features": make_features(),
        "polygons": make_polygons(),
        "catalog": make_catalog(outdir),
        "elevation": elev,
    }
    for name, df in tables.items():
        df.to_parquet(os.path.join(outdir, f"{name}.parquet"), index=False)
        print(f"{name}: {len(df)} rows -> {outdir}/{name}.parquet")
    # JSON form of the catalog (S4: the reference's cfsv2.json shape)
    tables["catalog"].to_json(
        os.path.join(outdir, "catalog.json"), orient="records", indent=2
    )
    write_prms_param_file(os.path.join(outdir, "myparam.param"), elev)


if __name__ == "__main__":
    generate(sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..", "fixtures"))
