"""Round-5 session-B operator tests: planner statistics (MCV, exact
equi-height histogram, zone maps + prune report, join-order advisor),
cross-source overlap, and closed-form standardized ridge.

The global_rank permutation regression test here guards the exchange-reuse
hazard fixed in scale.global_rank: with payload columns in the ranked
relation, column pruning used to split the stats/probe branches into two
independently-sampled range exchanges, corrupting rn (gaps+duplicates)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# global_rank: rn stays a permutation with payload columns (regression)
# ---------------------------------------------------------------------------


def test_global_rank_permutation_with_payload_columns(spark):
    """rn must be exactly 1..n even when the ranked relation carries
    payload columns that let Catalyst prune the stats branch differently
    from the probe branch (the two-exchange drift bug)."""
    from gridmet_etl_spark.operators.scale import global_rank

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).select(
        F.col("l_shipdate").alias("v"), "l_orderkey", "l_linenumber", "l_partkey"
    )
    ranked = global_rank(li, "v", tie_cols=["l_orderkey", "l_linenumber"], with_rank=False)
    n, ndv, mn, mx = ranked.agg(
        F.count("*"), F.countDistinct("rn"), F.min("rn"), F.max("rn")
    ).first()
    assert (ndv, mn, mx) == (n, 1, n)
    # zone sizes derived from rn must be exact (the observable symptom)
    sizes = (
        ranked.groupBy(F.floor((F.col("rn") - 1) / 100).alias("z"))
        .count()
        .select("count")
        .distinct()
        .collect()
    )
    assert {r["count"] for r in sizes} <= {100, n % 100 if n % 100 else 100}


# ---------------------------------------------------------------------------
# mcv_stats
# ---------------------------------------------------------------------------


def test_mcv_stats_counts_and_ranks(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=1), Row(a="x", b=1), Row(a="y", b=1), Row(a=None, b=2)]
    )
    from gridmet_etl_spark.operators.planner import mcv_stats

    out = mcv_stats(df, ["a", "b"], k=2)
    rows = {(r["column"], r.value): (r.n, r.frac, r.rnk) for r in out.collect()}
    # column a: 3 non-null rows; x twice, y once; NULL excluded
    assert rows[("a", "x")] == (2, round(2 / 3, 6), 1)
    assert rows[("a", "y")] == (1, round(1 / 3, 6), 2)
    # column b: 4 non-null; 1 thrice, 2 once
    assert rows[("b", "1")] == (3, 0.75, 1)
    assert rows[("b", "2")] == (1, 0.25, 2)


def test_mcv_stats_k_cap_and_tiebreak(spark):
    df = spark.createDataFrame([Row(c=v) for v in ["b", "a", "c", "a", "b", "d"]])
    from gridmet_etl_spark.operators.planner import mcv_stats

    out = mcv_stats(df, ["c"], k=2).orderBy("rnk").collect()
    # a and b tie at 2 → value-string ascending breaks the tie; k caps at 2
    assert [(r.value, r.rnk) for r in out] == [("a", 1), ("b", 2)]


# ---------------------------------------------------------------------------
# equiheight_bounds
# ---------------------------------------------------------------------------


def test_equiheight_mass_and_order(spark):
    from gridmet_etl_spark.operators.planner import equiheight_bounds

    df = spark.range(0, 1000).select((F.col("id") * 7 % 1000).alias("x"))
    out = equiheight_bounds(df, "x", nb=8).orderBy("bucket").collect()
    assert [r.bucket for r in out] == list(range(8))
    assert all(r.n_rows == 125 for r in out)  # exact equi-height on 1000 rows
    # buckets tile the sorted domain: lo/hi non-overlapping and increasing
    for prev, cur in zip(out, out[1:]):
        assert prev.hi < cur.lo or prev.hi <= cur.lo
    assert out[0].lo == 0 and out[-1].hi == 999


def test_equiheight_drops_nulls(spark):
    from gridmet_etl_spark.operators.planner import equiheight_bounds

    df = spark.createDataFrame([Row(x=float(i)) for i in range(10)] + [Row(x=None)])
    out = equiheight_bounds(df, "x", nb=2).collect()
    assert sum(r.n_rows for r in out) == 10


# ---------------------------------------------------------------------------
# zone maps
# ---------------------------------------------------------------------------


def test_zone_map_exact_sizes_and_clustered_pruning(spark):
    from gridmet_etl_spark.operators.planner import zone_map_stats, zone_prune_report

    n = 10_000
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("uncorrelated"),
    )
    zones = zone_map_stats(df, "k", stat_cols=["k", "uncorrelated"], zone_rows=1000)
    zrows = zones.orderBy("zone").collect()
    assert [r.n_rows for r in zrows] == [1000] * 10
    # clustered column: zone min/max tile the range without overlap
    assert [(r.k_min, r.k_max) for r in zrows] == [
        (i * 1000, i * 1000 + 999) for i in range(10)
    ]
    rep = {
        r.predicate: r
        for r in zone_prune_report(
            zones,
            [
                ("clustered_band", "k", 2500, 3499),
                ("uncorr_band", "uncorrelated", 10, 19),
            ],
        ).collect()
    }
    # clustered predicate: 1000 rows span exactly 2 zones of 10
    assert rep["clustered_band"].n_zones_scanned == 2
    assert rep["clustered_band"].n_rows_scanned == 2000
    assert rep["clustered_band"].prune_frac == 0.8
    # uncorrelated predicate: every zone contains the band → no pruning
    assert rep["uncorr_band"].n_zones_scanned == 10
    assert rep["uncorr_band"].prune_frac == 0.0


# ---------------------------------------------------------------------------
# join_chain_advisor
# ---------------------------------------------------------------------------


def test_join_advisor_prefers_selective_start_and_matches_actuals(spark):
    from gridmet_etl_spark.operators.planner import join_chain_advisor

    # A: 10 dims; B: 1000 facts with fk → A and pk; C: 5000 facts fk → B.
    a = spark.range(10).select(F.col("id").alias("ak"))
    b = spark.range(1000).select(
        F.col("id").alias("bk"), (F.col("id") % 10).alias("afk")
    )
    c = spark.range(5000).select((F.col("id") % 1000).alias("bfk"))
    out = {
        r.join_order: r
        for r in join_chain_advisor(
            a, "ak", b, "afk", "bk", c, "bfk", names=("A", "B", "C")
        ).collect()
    }
    # uniform-key chains: estimates are EXACT here
    assert out["A*B first"].est_intermediate == 1000
    assert out["B*C first"].est_intermediate == 5000
    assert out["A*C first (cross)"].est_intermediate == 50_000
    assert out["A*B first"].chosen and not out["B*C first"].chosen
    assert all(r.est_final == 5000 for r in out.values())


# ---------------------------------------------------------------------------
# source_overlap
# ---------------------------------------------------------------------------


def test_source_overlap_counts_and_jaccard(spark):
    from gridmet_etl_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s1", text="alpha beta"),
            Row(doc_id=2, source="s1", text="gamma"),
            Row(doc_id=3, source="s2", text="alpha  beta"),  # normalizes equal
            Row(doc_id=4, source="s2", text="delta"),
            Row(doc_id=5, source="s3", text="epsilon"),
        ]
    )
    out = source_overlap(docs).collect()
    assert len(out) == 1  # only (s1, s2) share; zero-overlap pairs omitted
    r = out[0]
    assert (r.source_a, r.source_b, r.n_shared, r.n_a, r.n_b) == ("s1", "s2", 1, 2, 2)
    assert r.jaccard == round(1 / 3, 6)


# ---------------------------------------------------------------------------
# ridge_closed_form
# ---------------------------------------------------------------------------


def test_ridge_recovers_dominant_predictor(spark):
    """With y = 3·x1 + noise-free independent features, the standardized
    solution concentrates on x1 and shrinks toward corr/(1+λ)."""
    from gridmet_etl_spark.operators.mlprep import ridge_closed_form

    df = spark.range(0, 2000).select(
        (F.col("id") % 17).cast("double").alias("x1"),
        (F.col("id") % 23).cast("double").alias("x2"),
        ((F.col("id") * 7) % 29).cast("double").alias("x3"),
    )
    df = df.withColumn("y", 3.0 * F.col("x1"))
    out = ridge_closed_form(df, ["x1", "x2", "x3"], "y", reg=0.1).first()
    assert out.n == 2000
    # corr(x1,y)=1 exactly; near-orthogonal x2/x3 → b1 ≈ 1/(1+λ) ≈ 0.909
    assert abs(out.b1 - 1 / 1.1) < 0.02
    assert abs(out.b2) < 0.05 and abs(out.b3) < 0.05


def test_ridge_shrinks_with_lambda(spark):
    from gridmet_etl_spark.operators.mlprep import ridge_closed_form

    df = spark.range(0, 500).select(
        (F.col("id") % 11).cast("double").alias("x1"),
        (F.col("id") % 13).cast("double").alias("x2"),
        (F.col("id") % 7).cast("double").alias("x3"),
    )
    df = df.withColumn("y", F.col("x1") + 0.5 * F.col("x2"))
    lo = ridge_closed_form(df, ["x1", "x2", "x3"], "y", reg=0.01).first()
    hi = ridge_closed_form(df, ["x1", "x2", "x3"], "y", reg=10.0).first()
    assert abs(hi.b1) < abs(lo.b1) and abs(hi.b2) < abs(lo.b2)


def test_ridge_requires_three_features(spark):
    from gridmet_etl_spark.operators.mlprep import ridge_closed_form

    df = spark.range(5).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(AssertionError):
        ridge_closed_form(df, ["x", "x"], "x")


# ---------------------------------------------------------------------------
# selectivity_estimate + qerror
# ---------------------------------------------------------------------------


def test_selectivity_uniform_exact(spark):
    """On uniform integers the uniform-within-bucket assumption is exact
    (up to boundary rows), so the estimate lands within one bucket width."""
    from gridmet_etl_spark.operators.planner import (
        equiheight_bounds,
        selectivity_estimate,
    )

    df = spark.range(0, 10_000).select(F.col("id").cast("double").alias("x"))
    bounds = equiheight_bounds(df, "x", nb=10)
    est = selectivity_estimate(bounds, 2500.0, 4999.0).first()
    assert abs(est.est_rows - 2500) < 10
    assert abs(est.sel_est - 0.25) < 0.001


def test_selectivity_full_and_empty_range(spark):
    from gridmet_etl_spark.operators.planner import (
        equiheight_bounds,
        selectivity_estimate,
    )

    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
    bounds = equiheight_bounds(df, "x", nb=4)
    full = selectivity_estimate(bounds, -1e9, 1e9).first()
    assert full.est_rows == 1000.0 and full.sel_est == 1.0
    empty = selectivity_estimate(bounds, 5000.0, 6000.0).first()
    assert empty.est_rows == 0.0


def test_qerror_symmetry(spark):
    from gridmet_etl_spark.operators.planner import qerror

    df = spark.createDataFrame([Row(e=100.0, a=25.0), Row(e=25.0, a=100.0), Row(e=0.0, a=0.0)])
    out = df.select(qerror(F.col("e"), F.col("a")).alias("q")).collect()
    assert [r.q for r in out] == [4.0, 4.0, 1.0]  # symmetric; 0/0 clamps to 1


# ---------------------------------------------------------------------------
# layout_advisor
# ---------------------------------------------------------------------------


def test_layout_advisor_picks_workload_matching_key(spark):
    """Workload of two predicates on column a, one on b → layout a must
    score highest and be chosen."""
    from gridmet_etl_spark.operators.planner import layout_advisor

    n = 8000
    df = spark.range(0, n).select(
        F.col("id").alias("a"),
        ((F.col("id") * 2654435761) % n).alias("b"),  # decorrelated permutation
    )
    out = layout_advisor(
        df,
        ["a", "b"],
        [
            ("a_band1", "a", 0, 499),
            ("a_band2", "a", 4000, 4499),
            ("b_band", "b", 0, 499),
        ],
        zone_rows=500,
    )
    rows = out.collect()
    assert len(rows) == 6  # 2 layouts × 3 predicates
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r.layout, r.layout_score)
        assert (r.layout_score == by_layout[r.layout])  # score constant per layout
    assert by_layout["a"] > by_layout["b"]
    assert all(r.chosen == (r.layout == "a") for r in rows)
    # layout a prunes its own bands perfectly: 500 of 8000 rows scanned
    a_rows = {r.predicate: r.prune_frac for r in rows if r.layout == "a"}
    assert a_rows["a_band1"] == round(1 - 500 / n, 6)


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (batch fold)
# ---------------------------------------------------------------------------


def test_mg_fold_guarantees_and_exact_at_capacity(spark):
    """MG invariants on a skewed stream: (1) est ≤ true ≤ est + deducted
    for every surviving key, (2) every key with true count > deducted
    survives, (3) summary ≤ capacity; and with capacity ≥ NDV the fold is
    EXACT (deducted = 0, est = true)."""
    from gridmet_etl_spark.operators.sketch import mg_fold

    # zipf-ish: key k appears ~N/k times, keys 1..40
    df = spark.range(1, 4000).select(
        F.explode(F.expr("sequence(1, 40)")).alias("k"), F.col("id")
    ).where(F.col("id") % F.col("k") == 0).select("k")
    true = {r.k: r.cnt for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    n = sum(true.values())
    slices = [df.where(F.col("k") % 3 == i) for i in range(3)]

    out = mg_fold(slices, "k", capacity=10).collect()
    assert len(out) <= 10
    ded = out[0].deducted
    assert ded <= n / 11 + 1
    for r in out:
        assert r.est <= true[r.key] <= r.est + ded
        assert r.n_total == n
    survived = {r.key for r in out}
    for k, c in true.items():
        if c > ded:
            assert k in survived

    exact = mg_fold(slices, "k", capacity=64).collect()
    assert {r.key: r.est for r in exact} == true
    assert exact[0].deducted == 0
