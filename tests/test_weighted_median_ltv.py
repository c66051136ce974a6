"""weighted_median: golden small cases (weighting shifts the median, lower
convention); cohort_ltv monotonicity."""

from pyspark.sql import functions as F

from gridmet_etl_spark.operators.stats import weighted_median


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v double, w double, tie long")


def test_weighted_median_weights_shift_it(spark):
    # unweighted median of [1, 2, 9] is 2; weight 9 heavily -> 9
    rows = [("a", 1.0, 1.0, 1), ("a", 2.0, 1.0, 2), ("a", 9.0, 10.0, 3)]
    out = weighted_median(_df(spark, rows), ["k"], "v", "w", tie_cols=("tie",)).collect()
    assert out[0].w_median == 9.0 and out[0].total_weight == 12.0


def test_weighted_median_lower_convention(spark):
    # even split: cum weight reaches exactly half AT the lower value
    rows = [("a", 1.0, 1.0, 1), ("a", 5.0, 1.0, 2)]
    out = weighted_median(_df(spark, rows), ["k"], "v", "w", tie_cols=("tie",)).collect()
    assert out[0].w_median == 1.0


def test_weighted_median_per_group(spark):
    rows = [("a", 1.0, 1.0, 1), ("a", 3.0, 1.0, 2), ("a", 5.0, 1.0, 3),
            ("b", 10.0, 1.0, 1)]
    got = {r.k: r.w_median for r in weighted_median(
        _df(spark, rows), ["k"], "v", "w", tie_cols=("tie",)).collect()}
    assert got == {"a": 3.0, "b": 10.0}


def test_cohort_ltv_cumulative_monotone(spark):
    from offpath_queries.contract_ext4 import q_cohort_ltv

    rows = q_cohort_ltv(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_cohort = {}
    for r in sorted(rows, key=lambda r: (str(r.cohort_week), r.age_week)):
        prev = by_cohort.get(r.cohort_week, 0.0)
        assert r.cum_revenue >= prev
        by_cohort[r.cohort_week] = r.cum_revenue
