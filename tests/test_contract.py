"""Pre-driver validation of the __spark_entry__ contract: every queries()
entry runs, and its oracle SQL produces the same rows (order-insensitive,
column-name-sorted) in DuckDB — mirroring the driver's comparison. The
off-path operators' queries (``tests/offpath_queries``) get the same check."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from offpath_queries import OFFPATH_QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    out = []
    for row in rows:
        vals = []
        for k in order:
            v = row[k]
            if isinstance(v, float):
                if math.isnan(v):
                    v = None
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


QUERIES = {
    **{n: (fn, entrymod.oracle_sql().get(n)) for n, fn in entrymod.queries().items()},
    **OFFPATH_QUERIES,
}


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    qfn, sql = QUERIES[name]
    sdf = qfn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    if sql is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = ddb.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "tmax" in df.columns
