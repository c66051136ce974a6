"""Unit tests for the session-B round-3 operators: ML-prep (target encode,
corr pairs, skew profile, referential orphans), SCD2 history, ACF/EWMA, and
k-hop reach — hand-computed golden values on tiny frames, plus plan-shape
assertions for the scale-critical joins."""

import math

import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.graph import k_hop_reach
from gridmet_etl_spark.operators.mlprep import (
    corr_pairs,
    key_skew_profile,
    referential_orphans,
    target_encode,
)
from gridmet_etl_spark.operators.scd import scd2_history
from gridmet_etl_spark.operators.timeseries import autocorrelation, ewma_truncated


# ---------------------------------------------------------------------- mlprep


def test_target_encode_smoothing(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 100.0)], "cat string, y double"
    )
    out = {r["cat"]: r for r in target_encode(df, "cat", "y", m=2.0).collect()}
    mu = (10 + 20 + 100) / 3.0
    assert out["a"]["n"] == 2
    assert out["a"]["enc"] == pytest.approx((30 + 2 * mu) / 4.0)
    # rare category shrinks toward the global mean
    assert out["b"]["enc"] == pytest.approx((100 + 2 * mu) / 3.0)
    assert abs(out["b"]["enc"] - mu) < abs(100 - mu)


def test_corr_pairs_golden(spark):
    rows = [(float(i), 2.0 * i + 1, float(-i), float(i * i)) for i in range(10)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    out = {(r["col_a"], r["col_b"]): r["corr"] for r in corr_pairs(df, ["a", "b", "c"]).collect()}
    assert out[("a", "b")] == pytest.approx(1.0)
    assert out[("a", "c")] == pytest.approx(-1.0)
    assert len(out) == 3


def test_key_skew_profile(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (3,)], "k int"
    )
    out = {r["group_size"]: r["n_keys"] for r in key_skew_profile(df, ["k"]).collect()}
    assert out == {3: 1, 1: 2}


def test_referential_orphans_counts(spark):
    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (9, 10)], "fk1 int, fk2 int"
    )
    d1 = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    d2 = spark.createDataFrame([(10,), (20,)], "pk int")
    out = {
        r["fk"]: (r["n_orphans"], r["n_null"])
        for r in referential_orphans(
            fact, {"fk1": (d1, "pk"), "fk2": (d2, "pk")}, relation="f"
        ).collect()
    }
    assert out["fk1"] == (1, 0)  # fk1=9 orphaned
    assert out["fk2"] == (0, 1)  # fk2 NULL once, others resolve


def test_referential_orphans_broadcasts(spark):
    fact = spark.createDataFrame([(1,)], "fk int")
    dim = spark.createDataFrame([(1,)], "pk int")
    plan = referential_orphans(fact, {"fk": (dim, "pk")})._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------------------ scd2


def test_scd2_history_runs(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "x"),
            (1, 2, "x"),
            (1, 3, "y"),
            (1, 4, "x"),
            (2, 1, "z"),
        ],
        "k int, t int, attr string",
    )
    out = scd2_history(df, ["k"], "attr", "t").orderBy("k", "valid_from").collect()
    assert [(r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"]) for r in out] == [
        (1, "x", 1, 3, False),
        (1, "y", 3, 4, False),
        (1, "x", 4, None, True),
        (2, "z", 1, None, True),
    ]


def test_scd2_single_shuffle(spark):
    df = spark.createDataFrame([(1, 1, "x")], "k int, t int, attr string")
    plan = scd2_history(df, ["k"], "attr", "t")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # both windows share one partitioning


# ------------------------------------------------------------------ timeseries


def test_autocorrelation_perfect_alternation(spark):
    # period-2 series: acf(1) = -1, acf(2) = +1
    rows = [("s", i, float(1 if i % 2 else -1)) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = {r["lag"]: r for r in autocorrelation(df, ["k"], "t", "v", lags=(1, 2)).collect()}
    assert out[1]["acf"] == pytest.approx(-1.0)
    assert out[2]["acf"] == pytest.approx(1.0)
    assert out[1]["n_pairs"] == 19


def test_autocorrelation_zero_variance_null(spark):
    df = spark.createDataFrame([("s", i, 5.0) for i in range(5)], "k string, t int, v double")
    out = autocorrelation(df, ["k"], "t", "v", lags=(1,)).collect()
    assert out[0]["acf"] is None


def test_ewma_truncated_golden(spark):
    import datetime

    d0 = datetime.date(2024, 1, 1)
    rows = [("s", d0 + datetime.timedelta(days=i), float(v)) for i, v in enumerate([10, 20, 40])]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {r["day"].day: r for r in ewma_truncated(df, ["k"], "day", "v", 7.0, 14).collect()}
    w1 = 0.5 ** (1 / 7.0)
    w2 = 0.5 ** (2 / 7.0)
    assert out[1]["ewma"] == pytest.approx(10.0)
    assert out[2]["ewma"] == pytest.approx((20 + w1 * 10) / (1 + w1), abs=1e-6)
    assert out[3]["ewma"] == pytest.approx((40 + w1 * 20 + w2 * 10) / (1 + w1 + w2), abs=1e-6)
    assert out[3]["n_in_window"] == 3


def test_ewma_gap_renormalizes(spark):
    import datetime

    d0 = datetime.date(2024, 1, 1)
    # day 2 missing: day 3's window holds days {1, 3} only
    rows = [("s", d0, 10.0), ("s", d0 + datetime.timedelta(days=2), 30.0)]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {r["day"].day: r for r in ewma_truncated(df, ["k"], "day", "v", 7.0, 14).collect()}
    w2 = 0.5 ** (2 / 7.0)
    assert out[3]["ewma"] == pytest.approx((30 + w2 * 10) / (1 + w2), abs=1e-6)
    assert out[3]["n_in_window"] == 2


# ----------------------------------------------------------------------- graph


def test_k_hop_reach_chain_and_cycle(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hops"] for r in k_hop_reach(edges, seeds, k=3).collect()}
    # cycle closes back onto visited nodes without re-adding them
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_k_hop_reach_min_hops_on_diamond(spark):
    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "t"), ("b", "c"), ("c", "t")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {r["node"]: r["hops"] for r in k_hop_reach(edges, seeds, k=3).collect()}
    assert out["t"] == 2  # via a, not the 3-hop path via b->c


# --------------------------------------------------------------------- climate


def test_runs_above_threshold_islands(spark):
    import datetime

    from gridmet_etl_spark.operators.timeseries import runs_above_threshold

    d0 = datetime.date(2024, 1, 1)
    # above on days 0,1 (run of 2), below day 2, above days 3,4,5 (run of 3),
    # isolated day 7 (run of 1, dropped at min_len=2)
    vals = {0: 5.0, 1: 6.0, 2: 1.0, 3: 7.0, 4: 8.0, 5: 9.0, 7: 5.0}
    rows = [("c", d0 + datetime.timedelta(days=k), v) for k, v in vals.items()]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = sorted(
        (r["run_start"].day, r["run_end"].day, r["run_len"], r["peak"])
        for r in runs_above_threshold(df, ["k"], "day", "v", 4.0, min_len=2).collect()
    )
    assert out == [(1, 2, 2, 6.0), (4, 6, 3, 9.0)]


def test_rolling_zscore_window_and_standardization(spark):
    import datetime

    from gridmet_etl_spark.operators.timeseries import rolling_zscore

    d0 = datetime.date(2024, 1, 1)
    series = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [("c", d0 + datetime.timedelta(days=i), v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {r["day"].day: r for r in rolling_zscore(df, ["k"], "day", "v", window=3).collect()}
    # complete windows only: days 3,4,5 with sums 6, 9, 12
    assert sorted(out) == [3, 4, 5]
    assert out[3]["roll_sum"] == 6.0 and out[5]["roll_sum"] == 12.0
    # sums {6,9,12}: mean 9, sd 3 -> z = -1, 0, 1
    assert out[3]["z"] == -1.0 and out[4]["z"] == 0.0 and out[5]["z"] == 1.0


# ------------------------------------------------------------- overlap/alerts


def test_overlap_join_exact_pairs_no_dupes(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.rangejoin import overlap_join

    t = lambda h: dt.datetime(2024, 1, 1, h)
    left = spark.createDataFrame(
        [(1, t(0), t(5)), (2, t(10), t(11)), (3, t(20), t(23))],
        "lid int, l_start timestamp, l_end timestamp",
    )
    right = spark.createDataFrame(
        # A spans hours 3..12 (overlaps 1 and 2); B spans 11..21 (overlaps
        # 2 boundary-exclusive? 2 ends at 11 -> strict overlap needs
        # r_start < l_end: 11 < 11 false -> only 3); C disjoint
        [("A", t(3), t(12)), ("B", t(11), t(21)), ("C", t(6), t(9))],
        "rid string, r_start timestamp, r_end timestamp",
    )
    out = sorted(
        (r["lid"], r["rid"])
        for r in overlap_join(left, right, granule_seconds=3600).collect()
    )
    assert out == [(1, "A"), (2, "A"), (3, "B")]
    # multi-granule overlaps emit exactly once (no distinct in the plan)
    plan = overlap_join(left, right, granule_seconds=3600)._jdf.queryExecution().executedPlan().toString()
    assert "Distinct" not in plan and "Cartesian" not in plan


def test_overlap_join_granule_invariance(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.rangejoin import overlap_join

    t = lambda h: dt.datetime(2024, 1, 1, h)
    left = spark.createDataFrame(
        [(i, t(i), t(i + 3)) for i in range(0, 18)],
        "lid int, l_start timestamp, l_end timestamp",
    )
    right = spark.createDataFrame(
        [("w", t(4), t(9)), ("v", t(14), t(15))],
        "rid string, r_start timestamp, r_end timestamp",
    )
    fine = sorted((r["lid"], r["rid"]) for r in overlap_join(left, right, granule_seconds=600).collect())
    coarse = sorted((r["lid"], r["rid"]) for r in overlap_join(left, right, granule_seconds=86400).collect())
    assert fine == coarse and len(fine) > 0


def test_threshold_alerts_hysteresis(spark):
    from gridmet_etl_spark.streaming.alerts import threshold_alerts

    rows = [("k", i, v) for i, v in enumerate([1.0, 5.0, 6.0, 2.0, 7.0, 8.0, 9.0])]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = sorted(r["t"] for r in threshold_alerts(df, ["k"], "t", "v", 4.0).collect())
    # alerts at first crossing (t=1) and re-crossing after the dip (t=4);
    # t=2,5,6 suppressed while still above
    assert out == [1, 4]


def test_threshold_alerts_first_row_already_above(spark):
    from gridmet_etl_spark.streaming.alerts import threshold_alerts

    df = spark.createDataFrame([("k", 0, 9.0), ("k", 1, 9.5)], "k string, t int, v double")
    out = [r["t"] for r in threshold_alerts(df, ["k"], "t", "v", 4.0).collect()]
    assert out == [0]


# -------------------------------------------------------- classification evals


def test_nearest_centroid_separable(spark):
    from gridmet_etl_spark.operators.mlprep import nearest_centroid

    # two well-separated 3-d clusters -> zero confusion
    rows = [
        (0, 0, [1.0, 0.0, 0.1]), (1, 0, [0.9, 0.1, 0.0]), (2, 0, [1.0, 0.1, 0.1]),
        (3, 1, [0.0, 1.0, 0.1]), (4, 1, [0.1, 0.9, 0.0]), (5, 1, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {(r["label"], r["assigned"]): r["n"] for r in nearest_centroid(df).collect()}
    assert out == {(0, 0): 3, (1, 1): 3}


def test_knn_classify_majority(spark):
    from gridmet_etl_spark.operators.mlprep import knn_classify

    # 4+4 separable points, k=3: every leave-one-out vote is unanimous
    rows = [
        (i, 0, [1.0 + 0.01 * i, 0.0]) for i in range(4)
    ] + [
        (10 + i, 1, [0.0, 1.0 + 0.01 * i]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {(r["label"], r["predicted"]): r["n"] for r in knn_classify(df, k=3).collect()}
    assert out == {(0, 0): 4, (1, 1): 4}


# ------------------------------------------------------------------ decompose


def test_seasonal_decompose_reconstructs(spark):
    import datetime

    from gridmet_etl_spark.operators.timeseries import seasonal_decompose

    d0 = datetime.date(2024, 1, 1)
    # pure weekly pattern + linear trend
    rows = [
        ("s", d0 + datetime.timedelta(days=i), 10.0 + 0.5 * i + [3, -1, 0, 2, -2, 1, -3][i % 7])
        for i in range(28)
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = seasonal_decompose(df, ["k"], "day", "v", period=7).collect()
    assert len(out) == 22  # 28 - 6 edge rows
    for r in out:
        # additivity: value == trend + seasonal + resid (to rounding)
        assert r["value"] == pytest.approx(
            r["trend"] + r["seasonal"] + r["resid"], abs=5e-6
        )
    # residuals of a perfectly periodic + linear series are ~0
    assert max(abs(r["resid"]) for r in out) < 0.25


def test_temporal_split_embargo_band(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.sampling import temporal_split

    rows = [(i, dt.datetime(2024, 1, 1 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    out = {r["id"]: r["split"] for r in temporal_split(df, "ts", "2024-01-04", "2024-01-07").collect()}
    assert [out[i] for i in range(10)] == (
        ["train"] * 3 + ["embargo"] * 3 + ["test"] * 4
    )


# ------------------------------------------------------------- rank statistics


def test_global_rank_matches_naive(spark):
    from pyspark.sql import Window

    from gridmet_etl_spark.operators.scale import global_rank

    rows = [(i, float(v)) for i, v in enumerate([5, 3, 8, 3, 5, 1, 9, 5])]
    df = spark.createDataFrame(rows, "id int, v double")
    got = {r["id"]: (r["rn"], r["rank"]) for r in global_rank(df, "v", tie_cols=("id",), n_parts=3).collect()}
    naive = {
        r["id"]: r["rank"]
        for r in df.withColumn(
            "rank", F.avg(F.row_number().over(Window.orderBy("v", "id"))).over(
                Window.partitionBy("v")
            )
        ).collect()
    }
    assert {k: v[1] for k, v in got.items()} == naive
    assert sorted(v[0] for v in got.values()) == list(range(1, 9))


def test_mann_whitney_golden(spark):
    from gridmet_etl_spark.operators.stats import mann_whitney_u

    # classic: A = {1,2,3}, B = {4,5}; ranks 1..5 -> R_A=6, U_A=0; R_B=9, U_B=6
    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0), ("B", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in mann_whitney_u(df, "g", "v").collect()}
    assert out["A"]["rank_sum"] == 6.0 and out["A"]["u"] == 0.0
    assert out["B"]["rank_sum"] == 9.0 and out["B"]["u"] == 6.0
    # identity: U_A + U_B = n_A * n_B
    assert out["A"]["u"] + out["B"]["u"] == 3 * 2


def test_mann_whitney_tie_averaging(spark):
    from gridmet_etl_spark.operators.stats import mann_whitney_u

    # A = {1, 2}, B = {2, 3}: the tied 2s take rank (2+3)/2 = 2.5
    rows = [("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in mann_whitney_u(df, "g", "v").collect()}
    assert out["A"]["rank_sum"] == 1.0 + 2.5
    assert out["B"]["rank_sum"] == 2.5 + 4.0


def test_ks_statistic_golden(spark):
    from gridmet_etl_spark.operators.stats import ks_statistic

    # A = {1,2,3,4}, B = {3,4,5,6}: max ECDF gap at v=2 -> |2/4 - 0/4| = 0.5
    rows = [("A", float(v)) for v in [1, 2, 3, 4]] + [("B", float(v)) for v in [3, 4, 5, 6]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_statistic(df, "g", "v", "A", "B").collect()[0]
    assert out["n_a"] == 4 and out["n_b"] == 4
    assert out["d_stat"] == 0.5


def test_auc_perfect_and_tied(spark):
    from gridmet_etl_spark.operators.stats import auc_score

    sep = spark.createDataFrame(
        [(False, 0.1), (False, 0.2), (True, 0.8), (True, 0.9)], "y boolean, s double"
    )
    assert auc_score(sep, "y", "s").collect()[0]["auc"] == 1.0
    # all-equal scores: every pair ties -> AUC 0.5
    tied = spark.createDataFrame(
        [(False, 0.5), (False, 0.5), (True, 0.5), (True, 0.5)], "y boolean, s double"
    )
    assert auc_score(tied, "y", "s").collect()[0]["auc"] == 0.5


def test_chi_square_independent_uniform(spark):
    from gridmet_etl_spark.operators.stats import chi_square_contingency

    # perfectly independent 2x2 with equal counts: chi2 terms all 0
    rows = [("a", "x")] * 5 + [("a", "y")] * 5 + [("b", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi_square_contingency(df, "r", "c").collect()
    assert len(out) == 4
    for r in out:
        assert r["expected"] == 5.0 and r["chi2_term"] == 0.0


# ------------------------------------------- trailing / ohlc / survivorship


def test_trailing_window_features_point_in_time(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.mlprep import trailing_window_features

    d = lambda i: dt.date(2024, 1, i)
    rows = [
        (1, d(1), 10.0), (1, d(5), 20.0), (1, d(5), 5.0), (1, d(10), 40.0),
        (2, d(1), 100.0),
    ]
    df = spark.createDataFrame(rows, "k int, day date, v double")
    out = trailing_window_features(df, ["k"], "day", "v", days=7).collect()
    got = {(r["k"], r["day"].day, r["v"]): (r["n_prior"], r["sum_prior"]) for r in out}
    assert got[(1, 1, 10.0)] == (0, None)        # nothing prior
    # same-day rows EXCLUDED from each other's windows (leakage-safe)
    assert got[(1, 5, 20.0)] == (1, 10.0)
    assert got[(1, 5, 5.0)] == (1, 10.0)
    # day 10: window [3, 9] holds both day-5 rows, day-1 aged out
    assert got[(1, 10, 40.0)] == (2, 25.0)
    assert got[(2, 1, 100.0)] == (0, None)


def test_resample_ohlc_golden(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.timeseries import resample_ohlc

    t = lambda h: dt.datetime(2024, 1, 1, h)
    rows = [("s", t(9), 10.0), ("s", t(11), 30.0), ("s", t(15), 5.0), ("s", t(17), 20.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    r = resample_ohlc(df, ["k"], "ts", "v").collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n_ticks"]) == (10.0, 30.0, 5.0, 20.0, 4)


def test_survivorship_elects_best_quality(spark):
    from gridmet_etl_spark.operators.cluster import survivorship

    docs = spark.createDataFrame(
        [(1, 100), (2, 500), (3, 500), (9, 42)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {r["cluster_id"]: r for r in survivorship(pairs, docs).collect()}
    # cluster {1,2,3}: quality tie 2 vs 3 -> lowest id 2 wins
    assert out[1]["survivor_id"] == 2
    assert out[1]["n_members"] == 3 and out[1]["total_quality"] == 1100
    # singleton survives as itself
    assert out[9]["survivor_id"] == 9 and out[9]["n_members"] == 1
