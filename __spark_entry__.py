"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship gridmet pipeline on the seed-42
fixtures; ``queries()`` exposes the 17 paper operators of SURVEY.md §2 as
(spark, sf_dir) callables; ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each. Every query reads the domain fixtures under ``fixtures/`` by
absolute parquet path, so the oracle SQL needs no pre-registered tables.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gridmet_etl_spark.contract import DOMAIN_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full gridmet-etl pipeline analogue (weighted agg →
    pivot → unit conversion → derived humidity) on the seed-42 fixtures."""
    from gridmet_etl_spark.contract import q_gridmet_pipeline

    return q_gridmet_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in DOMAIN_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in DOMAIN_QUERIES.items()}
