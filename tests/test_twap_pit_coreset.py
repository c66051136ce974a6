"""time_weighted_avg: equals plain avg on even spacing, weights gaps on
uneven. kcenter_coreset: numpy-golden selection, cover radius shrinks with
k. scd2_pit_enrich semantics: tier = latest signup at-or-before the fact."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.similarity import kcenter_coreset
from gridmet_etl_spark.operators.timeseries import time_weighted_avg

SF_DIR = "/root/testdata/sf0.001"


def test_twap_even_spacing_equals_avg(spark):
    rows = [("a", f"2024-01-01 00:0{i}:00", float(v)) for i, v in enumerate([1, 3, 5, 7])]
    df = spark.createDataFrame(rows, "k string, ts string, value double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = time_weighted_avg(df, ["k"]).collect()[0]
    # last obs carries no weight: mean of first three under even spacing
    assert out.twap == 3.0
    assert out.n_obs == 4


def test_twap_weights_by_gap(spark):
    # value 10 holds for 9 minutes, value 0 for 1 minute -> twap 9.0
    rows = [
        ("a", "2024-01-01 00:00:00", 10.0),
        ("a", "2024-01-01 00:09:00", 0.0),
        ("a", "2024-01-01 00:10:00", 99.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, value double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    assert time_weighted_avg(df, ["k"]).collect()[0].twap == 9.0


def test_twap_single_obs_is_null(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 5.0)], "k string, ts string, value double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "value")
    row = time_weighted_avg(df, ["k"]).collect()[0]
    assert row.twap is None and row.n_obs == 1


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()


def _golden_kcenter(ids, mat, k):
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    centers = [0]
    mind = ((mat - mat[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        far = int(np.lexsort((ids, -mind))[0])
        centers.append(far)
        mind = np.minimum(mind, ((mat - mat[far]) ** 2).sum(axis=1))
    assign = np.stack([((mat - mat[c]) ** 2).sum(axis=1) for c in centers])
    best = assign.argmin(axis=0)  # first minimum = lowest center index
    return (
        [int(ids[c]) for c in centers],
        {int(ids[i]): int(ids[centers[best[i]]]) for i in range(len(ids))},
        assign.min(axis=0),
    )


def test_kcenter_matches_numpy_golden(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    g_centers, g_assign, g_dist = _golden_kcenter(ids, mat, k=6)
    out = {r.vec_id: (r.center_id, r.center_dist) for r in kcenter_coreset(emb, k=6).collect()}
    assert set(c for c, _ in out.values()) == set(g_centers)
    order = np.argsort(ids)
    for i, vid in enumerate(ids[order]):
        assert out[int(vid)][0] == g_assign[int(vid)]
        assert abs(out[int(vid)][1] - round(float(g_dist[i]), 6)) < 1e-6


def test_kcenter_radius_shrinks_with_k(spark, emb):
    r3 = kcenter_coreset(emb, k=3).agg(F.max("center_dist")).first()[0]
    r8 = kcenter_coreset(emb, k=8).agg(F.max("center_dist")).first()[0]
    assert r8 <= r3


def test_pit_enrich_no_lookahead(spark):
    """Every enriched tier must equal the tier of the LATEST signup at or
    before the purchase ts — and never a later one."""
    from offpath_queries.contract_ext4 import q_scd2_pit_enrich
    from gridmet_etl_spark.sources.readers import read_events

    out = {r.event_id: r.tier for r in q_scd2_pit_enrich(spark, SF_DIR).collect()}
    ev = read_events(spark, os.path.join(SF_DIR, "events.parquet")).collect()
    signups = sorted(
        [(r.user_id, r.ts, int(r.value // 100)) for r in ev if r.event_type == "signup"],
        key=lambda t: (t[1], t[2]),
    )
    checked = 0
    for r in ev:
        if r.event_type != "purchase":
            continue
        prior = [t for (u, t, tier) in signups if u == r.user_id and t <= r.ts]
        expect = None
        if prior:
            latest = max(prior)
            cand = [tier for (u, t, tier) in signups if u == r.user_id and t == latest]
            expect = cand[-1]  # scd2 tie-break: highest tier at same ts wins the run
        assert out[r.event_id] == expect
        checked += 1
    assert checked > 50
