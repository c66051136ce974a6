"""Round-7 operator tests: rank statistics (Spearman / Kruskal–Wallis /
Cramér's V), winsorized means, Heaps-law fit, duplicated-n-gram
inventory, rank-biased overlap, filter cascade, perplexity buckets,
calendar gap-fill interpolation, and the as-of NTZ-tolerance regression.
Goldens are hand-computed textbook values."""

import pytest
from pyspark.sql import functions as F


# -- spearman_corr ----------------------------------------------------------


def test_spearman_textbook_no_ties(spark):
    # ranks d = (0,1,1,0... ) classic: rho = 1 - 6*Σd²/(n(n²-1))
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0)], ["x", "y"]
    )
    from gridmet_etl_spark.operators.stats import spearman_corr

    [r] = spearman_corr(df, "x", "y").collect()
    assert r.n == 4 and r.rho == pytest.approx(0.6)


def test_spearman_monotone_and_reversed_with_ties(spark):
    from gridmet_etl_spark.operators.stats import spearman_corr

    up = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, 20.0), (3, 40.0)], ["x", "y"]
    )
    [r] = spearman_corr(up, "x", "y").collect()
    assert r.rho == pytest.approx(1.0)
    down = spark.createDataFrame(
        [(1, 40.0), (2, 20.0), (3, 10.0)], ["x", "y"]
    )
    [r2] = spearman_corr(down, "x", "y").collect()
    assert r2.rho == pytest.approx(-1.0)


def test_spearman_constant_column_degenerate(spark):
    from gridmet_etl_spark.operators.stats import spearman_corr

    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], ["x", "y"])
    [r] = spearman_corr(df, "x", "y").collect()
    assert r.rho == 0.0  # dy == 0 guard, not a NaN


# -- kruskal_wallis ---------------------------------------------------------


def test_kruskal_textbook(spark):
    # a={1,2}, b={3,4}: ranks 1..4, H = 12/(4*5) * (2*1 + 2*1) = 2.4
    from gridmet_etl_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], ["g", "v"]
    )
    rows = {r.grp: r for r in kruskal_wallis(df, "v", "g").collect()}
    assert rows["a"].mean_rank == pytest.approx(1.5)
    assert rows["b"].mean_rank == pytest.approx(3.5)
    r = rows["a"]
    assert r.n == 4 and r.dof == 1
    assert r.h == pytest.approx(2.4, abs=1e-5)
    assert r.h_corrected == pytest.approx(2.4, abs=1e-5)  # no ties


def test_kruskal_identical_groups_zero(spark):
    from gridmet_etl_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)], ["g", "v"]
    )
    [r, _] = kruskal_wallis(df, "v", "g").collect()
    assert r.h == pytest.approx(0.0, abs=1e-5)


# -- cramers_v --------------------------------------------------------------


def test_cramers_v_perfect_association(spark):
    from gridmet_etl_spark.operators.stats import cramers_v

    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, ["r", "c"])
    [out] = cramers_v(df, "r", "c").collect()
    assert out.n == 10 and out.n_rows == 2 and out.n_cols == 2 and out.dof == 1
    assert out.chi2 == pytest.approx(10.0, abs=1e-5)
    assert out.cramers_v == pytest.approx(1.0, abs=1e-5)


def test_cramers_v_independence_zero(spark):
    from gridmet_etl_spark.operators.stats import cramers_v

    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 3
    df = spark.createDataFrame(rows, ["r", "c"])
    [out] = cramers_v(df, "r", "c").collect()
    assert out.chi2 == pytest.approx(0.0, abs=1e-6)
    assert out.cramers_v == pytest.approx(0.0, abs=1e-6)


# -- winsorized_stats -------------------------------------------------------


def test_winsorized_clamps_outlier(spark):
    from gridmet_etl_spark.operators.stats import winsorized_stats

    vals = list(range(1, 20)) + [1000]  # n=20, one huge outlier
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    [r] = winsorized_stats(df, "v").collect()
    # nearest-rank: k_lo = ceil(20*5/100) = 1 -> lo = 1;
    # k_hi = ceil(20*95/100) = 19 -> hi = 19
    assert r.n == 20 and r.lo_bound == 1 and r.hi_bound == 19
    # winsorized: 1000 -> 19, everything else unchanged
    assert r.winsorized_mean == pytest.approx((sum(range(1, 20)) + 19) / 20)
    # trimmed: ranks 2..19 -> values 2..19
    assert r.trimmed_mean == pytest.approx(sum(range(2, 20)) / 18)
    assert r.raw_mean == pytest.approx(sum(vals) / 20)
    assert r.n_trimmed == 2


def test_winsorized_per_group(spark):
    from gridmet_etl_spark.operators.stats import winsorized_stats

    df = spark.createDataFrame(
        [("a", v) for v in range(1, 11)] + [("b", 5)], ["g", "v"]
    )
    rows = {r.g: r for r in winsorized_stats(df, "v", group_cols=("g",)).collect()}
    assert rows["b"].n == 1 and rows["b"].winsorized_mean == pytest.approx(5.0)
    assert rows["a"].n == 10


# -- heaps_fit --------------------------------------------------------------


def test_heaps_fit_counts_and_fit_shape(spark):
    from gridmet_etl_spark.operators.textops import heaps_fit

    # 10 docs; doc i introduces words w{i}_0..w{i}_{i} plus repeats "the"
    rows = [
        (i, " ".join([f"w{i}_{j}" for j in range(i + 1)] + ["the"] * 3))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = heaps_fit(docs, n_buckets=10).orderBy("bucket").collect()
    assert len(out) == 10
    # exact cumulative counts: bucket i adds (i+1) new words + "the" once
    cum_types = 0
    cum_tokens = 0
    for i, r in enumerate(out):
        cum_tokens += (i + 1) + 3
        cum_types += (i + 1) + (1 if i == 0 else 0)
        assert r.cum_tokens == cum_tokens
        assert r.cum_types == cum_types
    fit = out[0]
    assert 0.0 < fit.beta <= 1.5 and 0.0 <= fit.r2 <= 1.0


# -- dup_ngrams -------------------------------------------------------------


def test_dup_ngrams_finds_planted_boilerplate(spark):
    from gridmet_etl_spark.operators.textops import dup_ngrams

    boiler = "all rights reserved by acme"
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"{boiler} delta epsilon zeta"),
        (3, f"unrelated text with no repeats here {boiler}"),
        (4, "short"),  # < 5 words, must not emit trailing short grams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dup_ngrams(docs, k=5, top=5).collect()
    assert out[0].ngram == boiler
    assert out[0].n_docs == 3 and out[0].n_occurrences == 3
    # every reported gram has exactly 5 words and >= 2 docs
    for r in out:
        assert len(r.ngram.split(" ")) == 5 and r.n_docs >= 2


# -- rbo_overlap ------------------------------------------------------------


def _ranking(spark, items):
    return spark.createDataFrame(
        [(it, i + 1) for i, it in enumerate(items)], ["item", "rank"]
    )


def test_rbo_identical_disjoint_and_middle(spark):
    from gridmet_etl_spark.operators.scoring import rbo_overlap

    a = _ranking(spark, list(range(100, 132)))
    same = rbo_overlap(a, _ranking(spark, list(range(100, 132))), k=32).collect()
    assert same[0].rbo == pytest.approx(1.0)
    assert {r.depth for r in same} == set(range(1, 33))
    for r in same:
        assert r.overlap == r.depth and r.agree_e4 == 10000

    disj = rbo_overlap(a, _ranking(spark, list(range(500, 532))), k=32).collect()
    assert disj[0].rbo == 0.0 and disj[0].n_both == 0

    # swap top two: A_1 = 0, A_d = 1 for d >= 2 -> RBO = (1 - 2^-32) - 1/2
    b_items = [101, 100] + list(range(102, 132))
    swap = rbo_overlap(a, _ranking(spark, b_items), k=32).collect()
    assert swap[0].rbo == pytest.approx(0.5, abs=1e-6)


# -- filter_cascade ---------------------------------------------------------


def test_filter_cascade_unique_kills(spark):
    from gridmet_etl_spark.operators.quality import filter_cascade

    flags = spark.createDataFrame(
        [
            (1, False, True),   # fails A only -> unique kill for A
            (2, False, False),  # fails both -> unique for neither
            (3, True, True),    # survivor
        ],
        ["doc_id", "rule_a", "rule_b"],
    )
    rows = {r.rule: r for r in filter_cascade(flags, ["rule_a", "rule_b"]).collect()}
    assert rows["rule_a"].n_failed == 2 and rows["rule_a"].n_unique_kills == 1
    assert rows["rule_b"].n_failed == 1 and rows["rule_b"].n_unique_kills == 0
    assert rows["rule_a"].n_docs == 3 and rows["rule_a"].n_survivors == 1


# -- ppl_buckets ------------------------------------------------------------


def test_ppl_buckets_partition_and_order(spark):
    from gridmet_etl_spark.operators.lm import ppl_buckets

    rows = [
        (i, "the cat sat on the mat " * (1 + i % 3) + f"tail{i % 4}", "en")
        for i in range(9)
    ] + [(9 + i, "der hund lief schnell weg " * 2, "de") for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = ppl_buckets(docs, n_buckets=3).collect()
    per_lang = {}
    for r in out:
        per_lang.setdefault(r.lang, []).append(r)
    for lang, rs in per_lang.items():
        rs.sort(key=lambda r: r.bucket)
        assert sum(r.n_docs for r in rs) == (9 if lang == "en" else 3)
        for a, b in zip(rs, rs[1:]):
            assert a.max_nll <= b.min_nll  # bands are score-ordered
            assert abs(a.n_docs - b.n_docs) <= 1  # ntile balance


# -- gapfill_interp ---------------------------------------------------------


def test_gapfill_linear_interior_and_null_edges(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.timeseries import gapfill_interp

    d = dt.date
    daily = spark.createDataFrame(
        [
            ("s1", d(2024, 1, 1), 1.0),
            ("s1", d(2024, 1, 4), 4.0),
            ("s1", d(2024, 1, 6), 0.0),
            ("s2", d(2024, 1, 2), 7.0),
        ],
        ["k", "day", "value"],
    )
    out = {
        (r.k, r.day): r
        for r in gapfill_interp(daily, ["k"], "day", "value").collect()
    }
    assert len(out) == 6 + 1  # s1 densified to 6 days, s2 single day
    assert out[("s1", d(2024, 1, 2))].value == pytest.approx(2.0)
    assert out[("s1", d(2024, 1, 3))].value == pytest.approx(3.0)
    assert out[("s1", d(2024, 1, 2))].is_filled
    assert out[("s1", d(2024, 1, 2))].gap_fill_src_span == 3
    assert out[("s1", d(2024, 1, 5))].value == pytest.approx(2.0)  # 4 -> 0
    assert not out[("s1", d(2024, 1, 1))].is_filled
    assert out[("s1", d(2024, 1, 1))].gap_fill_src_span is None
    assert out[("s2", d(2024, 1, 2))].value == pytest.approx(7.0)


def test_gapfill_null_valued_edge_observation_not_marked_filled(spark):
    """A NULL-VALUED observation at the span edge has only one bracket:
    it stays NULL and must report is_filled = false (is_filled means
    repaired, not merely was-missing)."""
    import datetime as dt

    from gridmet_etl_spark.operators.timeseries import gapfill_interp

    d = dt.date
    daily = spark.createDataFrame(
        [("s", d(2024, 1, 1), None), ("s", d(2024, 1, 2), 5.0),
         ("s", d(2024, 1, 4), 7.0)],
        "k string, day date, value double",
    )
    out = {r.day: r for r in gapfill_interp(daily, ["k"], "day", "value").collect()}
    edge = out[d(2024, 1, 1)]
    assert edge.value is None and not edge.is_filled
    mid = out[d(2024, 1, 3)]
    assert mid.is_filled and mid.value == pytest.approx(6.0)


def test_gapfill_observed_rows_pass_through(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.timeseries import gapfill_interp

    daily = spark.createDataFrame(
        [("s", dt.date(2024, 1, 1), 5.0), ("s", dt.date(2024, 1, 2), 6.0)],
        ["k", "day", "value"],
    )
    out = gapfill_interp(daily, ["k"], "day", "value").collect()
    assert len(out) == 2 and all(not r.is_filled for r in out)


# -- asof tolerance on TIMESTAMP_NTZ (regression) ---------------------------


def test_asof_tolerance_on_ntz_timestamps(spark):
    """r7 regression: tolerance used ts.cast('long'), which throws on
    TIMESTAMP_NTZ (the events table's type). Now exact microseconds via
    unix_micros."""
    from gridmet_etl_spark.operators.asof import asof_join

    left = spark.sql(
        "SELECT 1 AS k, TIMESTAMP_NTZ '2024-01-01 10:00:00' AS ts, 'L' AS tag"
    )
    right = spark.sql(
        """SELECT 1 AS k, TIMESTAMP_NTZ '2024-01-01 09:00:00' AS ts, 7.0 AS v
           UNION ALL
           SELECT 1, TIMESTAMP_NTZ '2024-01-01 09:59:30', 9.0"""
    )
    [near] = asof_join(left, right, on="k", tolerance_seconds=60).collect()
    assert near.v_right == 9.0
    [far] = asof_join(left, right, on="k", tolerance_seconds=10).collect()
    assert far.v_right is None  # 30 s gap > 10 s tolerance


# -- fleiss_kappa -----------------------------------------------------------


def test_fleiss_kappa_textbook_bounds(spark):
    from gridmet_etl_spark.operators.stats import fleiss_kappa

    # perfect agreement: 4 items, 3 raters each, unanimous
    rows = [(i, f"r{j}", "a" if i < 2 else "b") for i in range(4) for j in range(3)]
    df = spark.createDataFrame(rows, ["item", "rater", "category"]).select(
        "item", "category"
    )
    [r] = fleiss_kappa(df).collect()
    assert r.n_items == 4 and r.m_raters == 3 and r.n_dropped == 0
    assert r.pbar == pytest.approx(1.0)
    assert r.kappa == pytest.approx(1.0)


def test_fleiss_kappa_wikipedia_example(spark):
    """The canonical 10-item × 14-rater × 5-category example: κ ≈ 0.210."""
    from gridmet_etl_spark.operators.stats import fleiss_kappa

    table = [
        [0, 0, 0, 0, 14],
        [0, 2, 6, 4, 2],
        [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0],
        [2, 2, 8, 1, 1],
        [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0],
        [2, 5, 3, 2, 2],
        [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for i, counts in enumerate(table):
        for j, c in enumerate(counts):
            rows += [(i, f"cat{j}")] * c
    df = spark.createDataFrame(rows, ["item", "category"])
    [r] = fleiss_kappa(df).collect()
    assert r.n_items == 10 and r.m_raters == 14
    assert r.pbar == pytest.approx(0.378, abs=1e-3)
    assert r.pe == pytest.approx(0.213, abs=1e-3)
    assert r.kappa == pytest.approx(0.210, abs=1e-3)


def test_fleiss_kappa_drops_offsize_items(spark):
    from gridmet_etl_spark.operators.stats import fleiss_kappa

    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, "a")]  # item 3: m=1
    df = spark.createDataFrame(rows, ["item", "category"])
    [r] = fleiss_kappa(df).collect()
    assert r.m_raters == 2 and r.n_items == 2 and r.n_dropped == 1


# -- wilcoxon_signed_rank ---------------------------------------------------


def test_wilcoxon_hand_case(spark):
    """diffs {1, -2, 3, 4}: |d| ranks 1..4, W+ = 1+3+4 = 8, W- = 2."""
    from gridmet_etl_spark.operators.stats import wilcoxon_signed_rank

    df = spark.createDataFrame([(1,), (-2,), (3,), (4,), (0,)], ["diff"])
    [r] = wilcoxon_signed_rank(df).collect()
    assert r.n == 4 and r.n_zero == 1
    assert r.w_plus == pytest.approx(8.0) and r.w_minus == pytest.approx(2.0)
    # z = (8 - 4*5/4)/sqrt(4*5*9/24) = 3/sqrt(7.5)
    assert r.z == pytest.approx(3.0 / (7.5 ** 0.5), abs=1e-6)


def test_wilcoxon_symmetric_distribution_zero_z(spark):
    from gridmet_etl_spark.operators.stats import wilcoxon_signed_rank

    df = spark.createDataFrame([(d,) for d in (-3, -2, -1, 1, 2, 3)], ["diff"])
    [r] = wilcoxon_signed_rank(df).collect()
    assert r.w_plus == r.w_minus and r.z == pytest.approx(0.0)


# -- friedman_test ----------------------------------------------------------


def test_friedman_textbook(spark):
    """3 treatments × 4 blocks, consistent ordering A<B<C in every block:
    rank sums 4, 8, 12 → χ² = 12/(4·3·4)·(16+0+16) = 8 (no ties)."""
    from gridmet_etl_spark.operators.stats import friedman_test

    rows = []
    for b in range(4):
        rows += [(b, "A", 1.0 + b), (b, "B", 2.0 + b), (b, "C", 3.0 + b)]
    df = spark.createDataFrame(rows, ["block", "treat", "v"])
    out = {r.treatment: r for r in friedman_test(df, "block", "treat", "v").collect()}
    assert out["A"].mean_rank == pytest.approx(1.0)
    assert out["C"].mean_rank == pytest.approx(3.0)
    r = out["A"]
    assert r.k == 3 and r.dof == 2
    assert r.chi2 == pytest.approx(8.0, abs=1e-5)
    assert r.chi2_corrected == pytest.approx(8.0, abs=1e-5)


def test_friedman_no_effect_zero(spark):
    from gridmet_etl_spark.operators.stats import friedman_test

    rows = []
    vals = [[1.0, 2.0, 3.0], [2.0, 3.0, 1.0], [3.0, 1.0, 2.0]]  # latin square
    for b, vs in enumerate(vals):
        for t, v in zip("ABC", vs):
            rows.append((b, t, v))
    df = spark.createDataFrame(rows, ["block", "treat", "v"])
    out = friedman_test(df, "block", "treat", "v").collect()
    assert out[0].chi2 == pytest.approx(0.0, abs=1e-5)


# -- ordinal_gamma ----------------------------------------------------------


def test_gamma_perfect_and_reverse(spark):
    from gridmet_etl_spark.operators.stats import ordinal_gamma

    up = spark.createDataFrame([(i, i) for i in range(5)] * 3, ["x", "y"])
    [r] = ordinal_gamma(up, "x", "y").collect()
    assert r.gamma == pytest.approx(1.0) and r.discordant == 0
    down = spark.createDataFrame([(i, 4 - i) for i in range(5)] * 3, ["x", "y"])
    [r2] = ordinal_gamma(down, "x", "y").collect()
    assert r2.gamma == pytest.approx(-1.0) and r2.concordant == 0


def test_gamma_hand_counts(spark):
    """cells: (0,0)=2, (1,1)=3, (1,0)=1 → C = 2·3 = 6, D = 0 (the (1,0)
    cell shares x with (1,1) and y with (0,0), pairing with neither)."""
    from gridmet_etl_spark.operators.stats import ordinal_gamma

    rows = [(0, 0)] * 2 + [(1, 1)] * 3 + [(1, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    [r] = ordinal_gamma(df, "x", "y").collect()
    assert r.concordant == 6 and r.discordant == 0
    assert r.gamma == pytest.approx(1.0)
    assert r.n == 6 and r.n_cells == 3


# -- window_funnel ----------------------------------------------------------


def test_window_funnel_hand_case(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import window_funnel

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: full chain within window
        (1, t(0), "view"), (1, t(10), "click"), (1, t(20), "purchase"),
        # user 2: click before view only -> level 1
        (2, t(5), "click"), (2, t(10), "view"),
        # user 3: view->click, purchase too late (window 30 min)
        (3, t(0), "view"), (3, t(10), "click"), (3, t(50), "purchase"),
        # user 4: purchase only -> no step-1 anchor, absent from output
        (4, t(0), "purchase"),
        # user 5: late anchor rescues the chain (window anchored per view)
        (5, t(0), "view"), (5, t(40), "view"), (5, t(45), "click"),
        (5, t(55), "purchase"),
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r.level: r.n_users for r in
           window_funnel(e, ["view", "click", "purchase"], 1800).collect()}
    assert out == {1: 1, 2: 1, 3: 2}  # u2=1, u3=2, u1&u5=3; u4 absent


def test_window_funnel_inclusive_same_ts(spark):
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import window_funnel

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    e = spark.createDataFrame(
        [(1, t0, "view"), (1, t0, "click")], ["user_id", "ts", "event_type"]
    )
    out = {r.level: r.n_users for r in
           window_funnel(e, ["view", "click"], 60).collect()}
    assert out == {2: 1}  # ts2 >= ts1 is inclusive by contract


# -- interdup_report --------------------------------------------------------


def test_interdup_planted_shares(spark):
    from gridmet_etl_spark.operators.textops import interdup_report

    boiler = "one two three four five"
    rows = [
        (1, f"{boiler} alpha beta gamma delta", "s1"),   # grams: 9-5+1=5... computed below
        (2, f"{boiler} epsilon zeta eta theta", "s1"),
        (3, "totally fresh words nothing shared here", "s2"),
        (4, "tiny", "s2"),  # short doc: excluded + counted
        (5, "also tiny", "s3"),  # ALL-short source: must still appear
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in interdup_report(docs, k=5).collect()}
    # doc1/doc2: 9 words -> 5 distinct grams each; only the exact boiler
    # gram (positions 1..5) is shared -> share = 1/5 = 2000 e4
    assert out["s1"].n_docs == 2
    assert out["s1"].mean_interdup_e4 == 2000
    assert out["s1"].max_interdup_e4 == 2000
    assert out["s2"].n_docs == 1 and out["s2"].mean_interdup_e4 == 0
    assert out["s2"].n_short_docs == 1
    # a source made entirely of short docs is reported, not dropped
    assert out["s3"].n_docs == 0 and out["s3"].n_short_docs == 1
    assert out["s3"].mean_interdup_e4 is None
