"""NDCG bounds/perfect-case; multi-touch credit conservation."""

import os

from pyspark.sql import functions as F

from offpath_queries.contract_ext4 import q_multitouch_credit, q_ndcg_eval

SF_DIR = "/root/testdata/sf0.001"


def test_ndcg_bounded_and_consistent(spark):
    rows = q_ndcg_eval(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert r.dcg <= r.idcg + 1e-9


def test_multitouch_credit_conserved(spark):
    """Every click with >=1 prior view hands out exactly 1.0 credit, so
    total credit == number of attributed clicks."""
    from gridmet_etl_spark.sources.readers import read_events
    from gridmet_etl_spark.streaming.attribution import attribution_join

    out = q_multitouch_credit(spark, SF_DIR)
    total_credit = out.agg(F.sum("credit")).first()[0]
    ev = read_events(spark, os.path.join(SF_DIR, "events.parquet"))
    n_attributed = (
        attribution_join(ev, "view", "click", within_minutes=30)
        .select("right_id")
        .distinct()
        .count()
    )
    assert abs(total_credit - n_attributed) < 1e-6
