"""Round-5 session-C operator tests: KMV theta sketches (exact-small-set
path, estimator accuracy, merge invariance, set algebra),
and the later session-C additions (RRF fusion, link prediction, causal
batch, session paths, Hilbert layout) as they land."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# KMV theta sketch
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k(spark):
    """A group with fewer than k distinct keys is counted EXACTLY (the
    sketch is the whole distinct set)."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_estimate

    rows = [("a", i % 7) for i in range(100)] + [("b", i % 3) for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "k"])
    sk = kmv_build(df, "k", ["g"], k=64)
    est = {r.g: (r.n_kept, r.est_distinct) for r in kmv_estimate(sk, ["g"], k=64).collect()}
    assert est["a"] == (7, 7.0)
    assert est["b"] == (3, 3.0)


def test_kmv_estimator_within_rse(spark):
    """Above k the estimator lands within ~4 RSE of truth (RSE ≈
    1/sqrt(k-2)); deterministic hashes make this a fixed assertion, not a
    flaky statistical one."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_estimate

    n = 5000
    df = spark.createDataFrame([("g", i) for i in range(n)], ["g", "k"])
    sk = kmv_build(df, "k", ["g"], k=256)
    est = kmv_estimate(sk, ["g"], k=256).first().est_distinct
    rse = 1.0 / (254.0**0.5)
    assert abs(est - n) / n < 4 * rse


def test_kmv_merge_invariance(spark):
    """union-then-sketch == sketch-then-merge (re-rank of unioned
    sketches) — the mergeability that lets sketches of separate batches
    combine."""
    from pyspark.sql.window import Window

    from gridmet_etl_spark.operators.sketch import kmv_build

    a = spark.createDataFrame([("g", i) for i in range(0, 900)], ["g", "k"])
    b = spark.createDataFrame([("g", i) for i in range(600, 1500)], ["g", "k"])
    direct = kmv_build(a.unionByName(b), "k", ["g"], k=64)
    ska = kmv_build(a, "k", ["g"], k=64).select("g", "h")
    skb = kmv_build(b, "k", ["g"], k=64).select("g", "h")
    w = Window.partitionBy("g").orderBy("h")
    merged = (
        ska.unionByName(skb)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, merged.collect()))


def test_kmv_set_ops_exact_when_small(spark):
    """Both groups under k → theta = SPACE and the set ops are EXACT:
    inter_est == |A ∩ B|, union_est == |A ∪ B|, jaccard exact."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_set_ops

    a = [("a", i) for i in range(30)]  # A = 0..29
    b = [("b", i) for i in range(20, 50)]  # B = 20..49, |A∩B|=10, |A∪B|=50
    df = spark.createDataFrame(a + b, ["g", "k"])
    sk = kmv_build(df, "k", ["g"], k=256)
    r = kmv_set_ops(sk, "g", k=256).first()
    assert (r.ga, r.gb) == ("a", "b")
    assert r.n_common == 10
    assert r.inter_est == 10.0
    assert r.union_est == 50.0
    assert r.jaccard_est == round(10 / 50, 6)


def test_kmv_set_ops_estimator_reasonable(spark):
    """Above k: estimates within 4 combined-RSE of truth on a planted
    50%-overlap pair."""
    from gridmet_etl_spark.operators.sketch import kmv_build, kmv_set_ops

    a = [("a", i) for i in range(0, 4000)]
    b = [("b", i) for i in range(2000, 6000)]  # inter 2000, union 6000
    df = spark.createDataFrame(a + b, ["g", "k"])
    sk = kmv_build(df, "k", ["g"], k=256)
    r = kmv_set_ops(sk, "g", k=256).first()
    tol = 4.0 / (254.0**0.5)
    assert abs(r.union_est - 6000) / 6000 < tol
    assert abs(r.inter_est - 2000) / 2000 < 2 * tol  # intersection: higher variance
    # Jaccard must use ONE sampling window (common-in-union-k-sample over
    # u_kept). The old theta-window numerator yielded ~0.445 on this exact
    # deterministic fixture (estimating |A∩B|/max, not J) — keep the band
    # tight enough to refute it; the corrected estimator yields ~0.332.
    assert abs(r.jaccard_est - 2000 / 6000) < 0.06


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------


def test_rrf_fuse_scaled_integer_and_ordering(spark):
    """Fused score equals the hand-computed scaled-integer sum; a doc
    ranked top by both systems beats one ranked top by only one."""
    from gridmet_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(1, 2), (3, 1), (4, 3)], ["doc_id", "rank"])
    out = {r.doc_id: (r.n_systems, r.rrf_score, r.fused_rank)
           for r in rrf_fuse([("a", a), ("b", b)], k=10).collect()}
    s = 1_000_000_000
    assert out[1] == (2, s // 61 + s // 62, 1)  # both systems, ranks 1+2
    assert out[3] == (2, s // 63 + s // 61, 2)
    assert out[2] == (1, s // 62, 3)
    assert out[4] == (1, s // 63, 4)


def test_rrf_single_system_preserves_order(spark):
    from gridmet_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(i, i) for i in range(1, 8)], ["doc_id", "rank"])
    got = [r.doc_id for r in rrf_fuse([("a", a)], k=5).orderBy("fused_rank").collect()]
    assert got == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# Link prediction
# ---------------------------------------------------------------------------


def test_link_prediction_matches_brute_force(spark):
    """Wedge-join scores == brute-force python on a small random-ish
    deterministic graph; candidates exclude existing edges."""
    import itertools

    from gridmet_etl_spark.operators.graph import link_prediction

    edges = [(a, b) for a in range(12) for b in range(12)
             if a < b and (a * 7 + b * 13) % 3 == 0]  # 22 edges, 12 open wedges
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.x, r.y): (r.common_neighbors, r.ra_score_scaled, r.pref_attach)
           for r in link_prediction(df, k=1000).collect()}

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for x, y in itertools.combinations(sorted(adj), 2):
        if y in adj[x]:
            continue
        cn = adj[x] & adj[y]
        if not cn:
            continue
        want[(x, y)] = (
            len(cn),
            sum(10**12 // len(adj[z]) for z in cn),
            len(adj[x]) * len(adj[y]),
        )
    assert got == want and len(want) > 5


def test_link_prediction_center_cap_drops_hub_wedges(spark):
    """With max_center_degree below the hub's degree, wedges through the
    hub vanish (star graph → no candidates)."""
    from gridmet_etl_spark.operators.graph import link_prediction

    star = [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(star, ["src", "dst"])
    assert link_prediction(df, k=100).count() == 21  # C(7,2) via the hub
    assert link_prediction(df, k=100, max_center_degree=5).count() == 0


# ---------------------------------------------------------------------------
# Causal batch: CUPED / IPW / DiD
# ---------------------------------------------------------------------------


def _brute_cuped(rows):
    n = len(rows)
    sx = sum(r[0] for r in rows); sy = sum(r[1] for r in rows)
    sxy = sum(r[0] * r[1] for r in rows); sxx = sum(r[0] ** 2 for r in rows)
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    xbar = sx / n
    t = [r for r in rows if r[2] == 1]; c = [r for r in rows if r[2] == 0]
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    naive = mean([r[1] for r in t]) - mean([r[1] for r in c])
    adj = mean([r[1] - theta * (r[0] - xbar) for r in t]) - mean(
        [r[1] - theta * (r[0] - xbar) for r in c]
    )
    return theta, naive, adj


def test_cuped_matches_brute_force_and_location_invariance(spark):
    rows = [(float(i % 17), float((i % 17) * 2 + (i % 5) + (3.0 if i % 2 else 0.0)), i % 2)
            for i in range(200)]
    from gridmet_etl_spark.operators.causal import cuped

    df = spark.createDataFrame(rows, ["x", "y", "t"])
    r = cuped(df).first()
    theta, naive, adj = _brute_cuped(rows)
    assert r.theta == round(theta, 6)
    assert r.diff_naive == round(naive, 6)
    assert r.diff_cuped == round(adj, 6)
    # shifting the covariate by a constant cannot change either estimate
    shifted = spark.createDataFrame([(x + 100.0, y, t) for x, y, t in rows], ["x", "y", "t"])
    r2 = cuped(shifted).first()
    assert (r2.diff_naive, r2.diff_cuped) == (r.diff_naive, r.diff_cuped)


def test_ipw_debiases_confounded_panel(spark):
    """Stratum 1 has higher outcomes AND higher treatment rate; true
    within-stratum effect is exactly +1 everywhere. Naive diff is inflated;
    IPW and stratified forms both recover 1.0 exactly."""
    from gridmet_etl_spark.operators.causal import ipw_ate

    rows = []
    # stratum 0: base 0, 1 of 4 treated; stratum 1: base 10, 3 of 4 treated
    for i in range(40):
        s = i % 2
        r = (i // 2) % 4  # independent of s, so rates really are 1/4 vs 3/4
        treated = 1 if (r < (1 if s == 0 else 3)) else 0
        y = 10.0 * s + 1.0 * treated
        rows.append((float(y), treated, s))
    df = spark.createDataFrame(rows, ["y", "t", "stratum"])
    r = ipw_ate(df).first()
    assert r.ate_ipw == 1.0
    assert r.ate_stratified == 1.0
    assert r.diff_naive > 1.0  # confounding inflates the naive contrast
    assert r.ate_ipw == r.ate_stratified  # algebraic identity carried as a check
    assert (r.n_overlap_units, r.n_degenerate_strata) == (40, 0)


def test_ipw_trims_and_surfaces_positivity_violations(spark):
    """A stratum with zero treated units can't contribute an effect
    estimate: it must leave BOTH numerator and denominator (trimmed /
    overlap estimand) and be surfaced — NOT silently shrink the ATE
    toward 0 by staying in N while its terms go NULL."""
    from gridmet_etl_spark.operators.causal import ipw_ate

    rows = []
    for i in range(40):  # stratum 0: both arms, effect exactly +1
        t = 1 if i % 2 else 0
        rows.append((float(5 + t), t, 0))
    for i in range(60):  # stratum 1: ALL control — no overlap
        rows.append((100.0, 0, 1))
    df = spark.createDataFrame(rows, ["y", "t", "stratum"])
    r = ipw_ate(df).first()
    assert r.n_units == 100
    assert r.n_overlap_units == 40
    assert r.n_degenerate_strata == 1
    # the trimmed estimand recovers the overlap-population effect exactly;
    # the old N=100 denominator reported 0.4 here
    assert r.ate_ipw == 1.0
    assert r.ate_stratified == 1.0


def test_did_removes_common_trend(spark):
    """Common +5 trend in both arms, true incremental effect +2 on
    treated: DiD returns exactly 2, naive post diff returns 2 + selection
    gap."""
    from gridmet_etl_spark.operators.causal import did

    rows = [(float(i % 7), float(i % 7) + 5.0 + (2.0 if i % 2 else 0.0) + (1.0 if i % 2 else 0.0) * 0,
             i % 2) for i in range(100)]
    df = spark.createDataFrame(rows, ["y_pre", "y_post", "t"])
    r = did(df).first()
    assert r.did == 2.0
    assert round(r.post_t - r.post_c - (r.pre_t - r.pre_c), 6) == 2.0


def test_hash_pct_range_and_determinism(spark):
    from gridmet_etl_spark.operators.causal import hash_pct

    df = spark.range(500).select(hash_pct(F.col("id")).alias("p"))
    mm = df.agg(F.min("p"), F.max("p")).first()
    assert 0 <= mm[0] and mm[1] <= 99
    a = [r.p for r in df.collect()]
    b = [r.p for r in df.collect()]
    assert a == b


# ---------------------------------------------------------------------------
# Hilbert layout
# ---------------------------------------------------------------------------


def test_hilbert_matches_reference_and_bijective(spark):
    """Staged unroll == the classic xy2d recurrence; bijective on the
    2^bits square (a space-filling curve is a permutation)."""
    from gridmet_etl_spark.operators.scale import hilbert_key_stages

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rows = [(i, j) for i in range(32) for j in range(32)]
    df = spark.createDataFrame(rows, ["i", "j"])
    got = {(r.i, r.j): r.hkey for r in hilbert_key_stages(df, bits=5).collect()}
    assert got == {(i, j): xy2d(32, i, j) for i, j in rows}
    assert len(set(got.values())) == 1024


def test_hilbert_beats_zorder_on_square_boxes(spark):
    """The bake-off's point: mean prune rate over square bbox predicates
    is at least as good under Hilbert as under Morton (strictly better on
    this workload)."""
    from gridmet_etl_spark.operators.planner import curve_layout_compare

    cells = spark.createDataFrame(
        [(i, j) for i in range(32) for j in range(32)], ["i", "j"]
    )
    # quadrant-ALIGNED boxes tie (both curves respect aligned splits);
    # boxes straddling the quadrant seams are where Z-jumps cost zones
    boxes = [("mid", 12, 19, 12, 19), ("off", 5, 14, 9, 18),
             ("seam", 14, 17, 0, 31), ("band", 10, 21, 24, 29)]
    rep = curve_layout_compare(cells, boxes, bits=5, zone_rows=32).collect()
    by = {(r.curve, r.box): r.prune_frac for r in rep}
    mean_h = sum(by[("hilbert", b)] for b, *_ in boxes) / len(boxes)
    mean_z = sum(by[("zorder", b)] for b, *_ in boxes) / len(boxes)
    assert mean_h > mean_z
    assert all(by[("hilbert", b)] >= by[("zorder", b)] for b, *_ in boxes)
    # totals agree across curves: same cells, same zones
    tot = {(r.curve, r.box): (r.n_zones, r.n_rows_scanned <= 1024) for r in rep}
    assert all(v[0] == 32 and v[1] for v in tot.values())


# ---------------------------------------------------------------------------
# Session paths
# ---------------------------------------------------------------------------


def test_session_paths_hand_case_and_conservation(spark):
    """Hand-checkable journeys: one user with two sessions split by a
    >30-min gap, another repeating the first session's path; top-k counts
    and conversion flags match, and Σ n_sessions over ALL paths equals the
    session count."""
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import session_paths

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1, session 1: view>click>purchase
        (1, t0, 1, "view"), (1, t0 + m, 2, "click"), (1, t0 + 2 * m, 3, "purchase"),
        # user 1, session 2 (gap 40 min): view>view
        (1, t0 + 42 * m, 4, "view"), (1, t0 + 43 * m, 5, "view"),
        # user 2: same path as user 1's session 1
        (2, t0, 6, "view"), (2, t0 + m, 7, "click"), (2, t0 + 2 * m, 8, "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {r.path: r for r in session_paths(ev, k=10).collect()}
    assert out["view>click>purchase"].n_sessions == 2
    assert out["view>click>purchase"].n_users == 2
    assert out["view>click>purchase"].converted is True
    assert out["view>click>purchase"].rank == 1
    assert out["view>view"].n_sessions == 1 and out["view>view"].converted is False
    assert sum(r.n_sessions for r in out.values()) == 3
    assert out["view>click>purchase"].n_events_path == 3


def test_session_paths_converted_is_exact_membership(spark):
    """An event type merely CONTAINING the conversion type as a substring
    ('pre_purchase_view') must not flag the path converted — membership is
    on the exact type list, not the path string."""
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import session_paths

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "view"), (1, t0 + m, 2, "pre_purchase_view"),
        (2, t0, 3, "view"), (2, t0 + m, 4, "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {r.path: r for r in session_paths(ev, k=10).collect()}
    assert out["view>pre_purchase_view"].converted is False
    assert out["view>purchase"].converted is True


def test_session_paths_caps_runaway_sessions(spark):
    """A 100-event single session truncates at max_events (bounded path
    strings at crawl scale)."""
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import session_paths

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=10)
    rows = [(1, t0 + i * s, i, "view") for i in range(100)]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    r = session_paths(ev, k=5, max_events=20).first()
    assert r.n_events_path == 20 and r.n_sessions == 1


# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------


def test_markov_removal_effects_hand_chain(spark):
    """Channel A sits on every converting path (removal effect 1); channel
    B only on doomed paths (effect 0) — the case where linear multi-touch
    would still pay B. Probabilities are exact halves, so assertions are
    exact."""
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import (
        markov_removal_effects,
        markov_transitions,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = []
    eid = 0
    for u in (1, 2):  # A -> purchase
        rows += [(u, t0, (eid := eid + 1), "A"), (u, t0 + m, (eid := eid + 1), "purchase")]
    for u in (3, 4):  # B -> (nothing)
        rows += [(u, t0, (eid := eid + 1), "B"), (u, t0 + m, (eid := eid + 1), "B")]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])

    t = {(r.s_from, r.s_to): r.n for r in markov_transitions(ev).collect()}
    assert t[("START", "A")] == 2 and t[("A", "CONV")] == 2
    assert t[("START", "B")] == 2 and t[("B", "B")] == 2 and t[("B", "NULL")] == 2

    out = {r.channel: r for r in markov_removal_effects(ev, ["A", "B"], iters=6).collect()}
    assert out["A"].base_cvr == 0.5
    assert out["A"].removal_effect == 1.0 and out["A"].share == 1.0
    assert out["B"].removal_effect == 0.0 and out["B"].share == 0.0


def test_markov_two_hop_path_credit(spark):
    """A->B->purchase: removing EITHER hop kills the conversion (both
    effects 1), exactly what position-based heuristics get wrong."""
    import datetime as dt

    from gridmet_etl_spark.operators.funnel import markov_removal_effects

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "A"), (1, t0 + m, 2, "B"), (1, t0 + 2 * m, 3, "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {r.channel: r for r in markov_removal_effects(ev, ["A", "B"], iters=6).collect()}
    assert out["A"].removal_effect == 1.0
    assert out["B"].removal_effect == 1.0
    assert out["A"].share == 0.5 and out["B"].share == 0.5


# ---------------------------------------------------------------------------
# WOE / IV
# ---------------------------------------------------------------------------


def test_woe_iv_separating_feature_scores_high(spark):
    """A perfectly separating feature (positives all in the top bins)
    gets a large IV; a label-independent feature's IV ≈ 0; WOE signs track
    positive enrichment."""
    from gridmet_etl_spark.operators.mlprep import woe_iv

    sep = [(float(i), 1 if i >= 500 else 0) for i in range(1000)]
    out = woe_iv(spark.createDataFrame(sep, ["x", "y"]), "x", "y", n_bins=4)
    rows = {r.bin: r for r in out.collect()}
    assert rows[0].woe < 0 < rows[3].woe
    assert rows[0].iv > 1.0  # strong predictor (IV repeated per row)
    flat = [(float(i), i % 2) for i in range(1000)]
    out2 = woe_iv(spark.createDataFrame(flat, ["x", "y"]), "x", "y", n_bins=4)
    assert abs(out2.first().iv) < 0.01


def test_woe_iv_bin_conservation(spark):
    """Bin counts conserve class totals; max value lands in the top bin
    (the least() clamp)."""
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.mlprep import woe_iv

    rows = [(float(i % 37), 1 if (i * 7) % 3 == 0 else 0) for i in range(500)]
    out = woe_iv(spark.createDataFrame(rows, ["x", "y"]), "x", "y", n_bins=5)
    agg = out.agg(F.sum("n_pos"), F.sum("n_neg"), F.max("bin")).first()
    n_pos = sum(1 for _, y in rows if y == 1)
    assert (agg[0], agg[1]) == (n_pos, 500 - n_pos)
    assert agg[2] == 4


# ---------------------------------------------------------------------------
# Feature hashing + class balance
# ---------------------------------------------------------------------------


def test_feature_hash_deterministic_and_bounded(spark):
    """Same tokens → same triples across calls; indexes within [0, dim);
    a doc's total |val| ≤ its token count (signs can only cancel)."""
    from gridmet_etl_spark.operators.retrieval import feature_hash

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d")], ["doc_id", "text"]
    )
    t1 = sorted(map(tuple, feature_hash(docs, dim=16).collect()))
    t2 = sorted(map(tuple, feature_hash(docs, dim=16).collect()))
    assert t1 == t2 and len(t1) > 0
    assert all(0 <= idx < 16 for _, idx, _ in t1)
    tot1 = sum(abs(v) for d, _, v in t1 if d == 1)
    assert tot1 <= 4


def test_class_balance_keeps_all_positives_and_compensates(spark):
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.sampling import class_balance

    rows = [(str(i), 1 if i % 20 == 0 else 0) for i in range(4000)]
    df = spark.createDataFrame(rows, ["rid", "y"])
    kept = class_balance(df, "y", "rid", neg_keep_pct=10)
    pos_kept = kept.filter(F.col("y") == 1).count()
    assert pos_kept == sum(1 for _, y in rows if y == 1)  # positives untouched
    neg = kept.filter(F.col("y") == 0)
    n_neg_true = sum(1 for _, y in rows if y == 0)
    n_neg_kept = neg.count()
    assert 0.07 * n_neg_true < n_neg_kept < 0.13 * n_neg_true  # ~10% hash keep
    wsum = neg.agg(F.sum("weight")).first()[0]
    assert abs(wsum - n_neg_true) / n_neg_true < 0.3  # unbiased compensation
    assert kept.filter(F.col("y") == 1).agg(F.min("weight")).first()[0] == 1.0


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity
# ---------------------------------------------------------------------------


def test_k_anonymity_flags_small_and_homogeneous_classes(spark):
    """A singleton class violates k; a large-but-homogeneous class
    violates l-diversity only; row totals conserve."""
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.mlprep import k_anonymity_report

    rows = (
        [("a", 1, i % 3) for i in range(10)]     # size 10, 3 sensitive values
        + [("b", 2, 7)] * 6                       # size 6, homogeneous -> l-violation
        + [("c", 3, 1)]                           # singleton -> k-violation
    )
    df = spark.createDataFrame(rows, ["q1", "q2", "s"])
    rep = {r.class_size: r for r in
           k_anonymity_report(df, ["q1", "q2"], "s", k=5, el=2).collect()}
    assert rep[1].n_k_violating_rows == 1 and rep[1].n_ldiv_violating_rows == 1
    assert rep[6].n_k_violating_rows == 0 and rep[6].n_ldiv_violating_rows == 6
    assert rep[10].n_k_violating_rows == 0 and rep[10].n_ldiv_violating_rows == 0
    total = sum(r.n_rows for r in rep.values())
    assert total == len(rows)


# ---------------------------------------------------------------------------
# Qini uplift
# ---------------------------------------------------------------------------


def test_qini_perfect_targeting_beats_diagonal(spark):
    """Units whose effect is concentrated in the high-score half: the
    model's Qini dominates the random diagonal at mid-curve and meets it
    at the end (both end at total incremental outcome)."""
    from gridmet_etl_spark.operators.causal import qini_curve

    rows = []
    for i in range(400):
        t = i % 2
        score = float(400 - i)  # i < 200 -> high score
        effect = 5.0 if i < 200 else 0.0  # effect only where score is high
        y = 10.0 + effect * t
        rows.append((i, score, y, t))
    df = spark.createDataFrame(rows, ["uid", "s", "y", "t"])
    out = {r.bin: r for r in qini_curve(df, "s", "y", "t", "uid").collect()}
    last = out[max(out)]
    assert abs(last.cum_qini - last.qini_random) < 1e-6  # curves meet at 100%
    mid = out[4]
    assert mid.cum_qini > mid.qini_random + 100  # strong dominance mid-curve
    assert abs(last.cum_qini - 200 * 5.0 / 2) < 60  # ≈ total incremental mass


def test_qini_null_model_tracks_diagonal(spark):
    """Uniform effect + score independent of effect: the Qini curve stays
    near the diagonal (no incremental targeting signal)."""
    from gridmet_etl_spark.operators.causal import qini_curve

    rows = [(i, float((i * 7) % 13), 10.0 + 2.0 * (i % 2), i % 2) for i in range(400)]
    df = spark.createDataFrame(rows, ["uid", "s", "y", "t"])
    out = qini_curve(df, "s", "y", "t", "uid").collect()
    for r in out:
        assert abs(r.cum_qini - r.qini_random) < 0.25 * max(abs(r.qini_random), 50)


# ---------------------------------------------------------------------------
# Polygon shoelace metrics
# ---------------------------------------------------------------------------


def test_polygon_metrics_square_and_orientation(spark):
    """Unit square: area 1, centroid (.5, .5) — in both orientations
    (signed-area cancellation); an L-shape matches the hand shoelace;
    a degenerate segment falls back to the vertex mean."""
    from gridmet_etl_spark.operators.spatial_weights import polygon_metrics

    sq = [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]
    sq_rev = list(reversed(sq[0])), list(reversed(sq[1]))
    ell = [0.0, 2.0, 2.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0, 2.0, 2.0]
    seg = [0.0, 1.0], [0.0, 1.0]
    df = spark.createDataFrame(
        [(1, *sq), (2, *sq_rev), (3, *ell), (4, *seg)],
        ["feature_id", "xs", "ys"],
    )
    out = {r.feature_id: r for r in polygon_metrics(df).collect()}
    assert (out[1].area, out[1].cx, out[1].cy) == (1.0, 0.5, 0.5)
    assert (out[2].area, out[2].cx, out[2].cy) == (1.0, 0.5, 0.5)
    # L-shape: area 3; centroid = area-weighted sub-rectangle centroids:
    # (2*(1,.5) + 1*(.5,1.5)) / 3 = (2.5/3, 2.5/3)
    assert out[3].area == 3.0
    assert abs(out[3].cx - 2.5 / 3) < 1e-6 and abs(out[3].cy - 2.5 / 3) < 1e-6
    assert out[4].area == 0.0 and out[4].cx == 0.5 and out[4].cy == 0.5


# ---------------------------------------------------------------------------
# DP release
# ---------------------------------------------------------------------------


def test_dp_noise_calibration_and_reproducibility(spark):
    """Noise is Laplace(1/ε)-calibrated (mean |noise| ≈ b over many
    groups), zero-mean-ish, reproducible across runs, and scales with
    1/ε."""
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.mlprep import dp_noisy_counts

    df = spark.createDataFrame([(str(i), 1) for i in range(2000)], ["g", "x"])
    out1 = dp_noisy_counts(df, ["g"], epsilon=1.0)
    out2 = dp_noisy_counts(df, ["g"], epsilon=1.0)
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))
    noise = out1.select((F.col("noisy_count") - 1).alias("e"))
    stats = noise.agg(F.avg("e"), F.avg(F.abs(F.col("e")))).first()
    assert abs(stats[0]) < 0.15          # ~zero-mean
    assert 0.8 < stats[1] < 1.2          # E|Laplace(b=1)| = b = 1
    tight = dp_noisy_counts(df, ["g"], epsilon=10.0)
    m = tight.select(F.avg(F.abs(F.col("noisy_count") - 1))).first()[0]
    assert 0.08 < m < 0.12               # b = 0.1 at eps 10


# ---------------------------------------------------------------------------
# Holt linear-trend forecast
# ---------------------------------------------------------------------------


def test_holt_tracks_perfect_line_exactly(spark):
    """On y_t = c + m·t the Holt recursion is exact (l_t = y_t, b_t = m
    invariant), so the h-step forecast extrapolates the line with zero
    in-sample error."""
    from gridmet_etl_spark.operators.timeseries import holt_forecast

    rows = [("s", t, 5.0 + 2.0 * t) for t in range(30)]
    df = spark.createDataFrame(rows, ["event_type", "day_idx", "y"])
    out = {r.h: r for r in
           holt_forecast(df, ["event_type"], n_steps=30, horizon=3).collect()}
    assert out[1].smape_fit == 0.0
    assert out[1].trend == 2.0
    assert out[1].level == 5.0 + 2.0 * 29
    for h in (1, 2, 3):
        assert out[h].forecast == 5.0 + 2.0 * (29 + h)


def test_holt_flat_series_zero_trend(spark):
    from gridmet_etl_spark.operators.timeseries import holt_forecast

    rows = [("s", t, 7.0) for t in range(30)]
    df = spark.createDataFrame(rows, ["event_type", "day_idx", "y"])
    r = holt_forecast(df, ["event_type"], n_steps=30, horizon=1).first()
    assert (r.level, r.trend, r.forecast, r.smape_fit) == (7.0, 0.0, 7.0, 0.0)


# ---------------------------------------------------------------------------
# F1 report
# ---------------------------------------------------------------------------


def test_f1_report_hand_confusion(spark):
    """Hand confusion: class a (tp=8, fn=2, fp=1), class b (tp=4, fn=1,
    fp=2); never-predicted class c reports 0 precision without dividing
    by zero; micro == accuracy; macro == mean of class F1s."""
    from gridmet_etl_spark.operators.scoring import f1_report

    conf = spark.createDataFrame(
        [("a", "a", 8), ("a", "b", 2), ("b", "b", 4), ("b", "a", 1),
         ("c", "a", 3)],
        ["label", "assigned", "n"],
    )
    out = {r["class"]: r for r in f1_report(conf).collect()}
    pa, ra = 8 / 12, 8 / 10
    pb, rb = 4 / 6, 4 / 5
    assert out["a"].precision == round(pa, 6) and out["a"].recall == round(ra, 6)
    assert out["b"].precision == round(pb, 6) and out["b"].recall == round(rb, 6)
    assert out["c"].precision == 0.0 and out["c"].recall == 0.0 and out["c"].f1 == 0.0
    acc = (8 + 4) / 18
    assert out["MICRO"].f1 == round(acc, 6)
    f1a = 2 * pa * ra / (pa + ra)
    f1b = 2 * pb * rb / (pb + rb)
    assert out["MACRO"].f1 == round((f1a + f1b + 0.0) / 3, 6)


# ---------------------------------------------------------------------------
# RSI
# ---------------------------------------------------------------------------


def test_rsi_extremes_and_hand_value(spark):
    """Monotone-up series → RSI 100; monotone-down → 0; alternating
    +2/−1 moves → RSI = 100·(avg gain)/(avg gain + avg loss) by hand."""
    from gridmet_etl_spark.operators.timeseries import rsi_sma

    up = [("u", t, float(t)) for t in range(20)]
    dn = [("d", t, float(-t)) for t in range(20)]
    alt = [("a", t, float((t // 2) * 1 + (t % 2) * 2)) for t in range(20)]
    # alt deltas: +2, -1, +2, -1, ... → over any 14-window: 7 gains of 2,
    # 7 losses of 1 → rsi = 100 * 14 / (14 + 7) = 66.666667
    df = spark.createDataFrame(up + dn + alt, ["event_type", "day_idx", "y"])
    out = {(r.event_type, r.idx): r.rsi for r in rsi_sma(df, ["event_type"]).collect()}
    assert all(v == 100.0 for (g, _), v in out.items() if g == "u")
    assert all(v == 0.0 for (g, _), v in out.items() if g == "d")
    a_vals = {v for (g, _), v in out.items() if g == "a"}
    assert a_vals == {round(100 * 14 / 21, 6)}


# ---------------------------------------------------------------------------
# Gini / Lorenz
# ---------------------------------------------------------------------------


def test_gini_equality_and_concentration(spark):
    """All-equal values → Gini 0 and a diagonal Lorenz curve; one unit
    owning everything → Gini = (n−1)/n; curve is monotone and ends at 1."""
    from gridmet_etl_spark.operators.stats import gini_lorenz

    eq = spark.createDataFrame([(i, 5.0) for i in range(100)], ["uid", "y"])
    out = sorted(gini_lorenz(eq, "y", "uid").collect(), key=lambda r: r.point)
    assert all(r.gini == 0.0 for r in out)
    for r in out:
        assert abs(r.cum_value_share - r.pop_share) < 1e-6
    assert out[-1].cum_value_share == 1.0

    conc = spark.createDataFrame(
        [(i, 0.0) for i in range(99)] + [(99, 1000.0)], ["uid", "y"]
    )
    out2 = sorted(gini_lorenz(conc, "y", "uid").collect(), key=lambda r: r.point)
    assert out2[0].gini == round(99 / 100, 6)
    assert out2[-2].cum_value_share == 0.0  # bottom 90% own nothing
    assert out2[-1].cum_value_share == 1.0
    shares = [r.cum_value_share for r in out]
    assert shares == sorted(shares)


# ---------------------------------------------------------------------------
# Log-rank test
# ---------------------------------------------------------------------------


def test_logrank_null_vs_shifted(spark):
    """Identical arms → O ≈ E and a tiny χ²; a strongly shifted arm →
    large χ². Hand-checkable two-subject case pins the O−E arithmetic."""
    from gridmet_etl_spark.operators.stats import logrank_test

    same = [("A", t % 10 + 1, 1) for t in range(200)] + [
        ("B", t % 10 + 1, 1) for t in range(200)
    ]
    r0 = logrank_test(
        spark.createDataFrame(same, ["grp", "dur", "ev"]), "grp", "dur", "ev", "A"
    ).first()
    assert abs(r0.observed_a - r0.expected_a) < 1e-6 and r0.chi2 < 1e-6

    shifted = [("A", t % 10 + 20, 1) for t in range(200)] + [
        ("B", t % 10 + 1, 1) for t in range(200)
    ]
    r1 = logrank_test(
        spark.createDataFrame(shifted, ["grp", "dur", "ev"]), "grp", "dur", "ev", "A"
    ).first()
    assert r1.chi2 > 50  # wildly significant separation

    # two subjects, death at t=1 (B) and t=2 (A):
    # t=1: n1=1, n=2, d1=0, d=1 -> e += 0.5, v += 0.25; t=2: n=1 skipped
    tiny = [("A", 2, 1), ("B", 1, 1)]
    r2 = logrank_test(
        spark.createDataFrame(tiny, ["grp", "dur", "ev"]), "grp", "dur", "ev", "A"
    ).first()
    assert (r2.observed_a, r2.expected_a, r2.variance) == (0, 0.5, 0.25)
    assert r2.chi2 == 1.0


# ---------------------------------------------------------------------------
# Capture-recapture
# ---------------------------------------------------------------------------


def test_capture_recapture_recovers_planted_population(spark):
    """Two random-ish 'crawls' of a known 1000-item universe: Chapman
    lands near 1000; identical crawls estimate ≈ their own size (no
    unseen mass); disjoint crawls report NULL."""
    from gridmet_etl_spark.operators.dedup import capture_recapture

    # crawl A: items where md5ish hash < 40%, crawl B: independent 40%
    items = list(range(1000))
    a = [("a", str(i)) for i in items if (i * 7919) % 100 < 40]
    b = [("b", str(i)) for i in items if (i * 104729) % 100 < 40]
    c = [("c", str(i)) for i in items if i < 300]        # identical to d
    d = [("d", str(i)) for i in items if i < 300]
    e = [("e", str(i)) for i in items if i >= 900]       # disjoint from c
    df = spark.createDataFrame(a + b + c + d + e, ["source", "d"])
    out = {(r.source_a, r.source_b): r for r in capture_recapture(df).collect()}
    ab = out[("a", "b")]
    assert abs(ab.est_population - 1000) / 1000 < 0.15  # independence holds
    assert ab.est_unseen > 0
    cd = out[("c", "d")]
    assert cd.n_shared == 300 and abs(cd.est_population - 300) < 2
    ce = out[("c", "e")]
    assert ce.n_shared == 0 and ce.est_population is None


# ---------------------------------------------------------------------------
# Welch t-test
# ---------------------------------------------------------------------------


def test_welch_matches_scipy_free_reference(spark):
    """Hand-computed Welch on a small two-arm sample (python float math,
    same formulas) and a planted large shift → |t| large; equal arms →
    t == 0 exactly."""
    from gridmet_etl_spark.operators.stats import welch_ttest

    t_arm = [4.0, 5.0, 6.0, 7.0]
    c_arm = [1.0, 2.0, 3.0]
    rows = [(y, 1) for y in t_arm] + [(y, 0) for y in c_arm]
    r = welch_ttest(spark.createDataFrame(rows, ["y", "t"]), "y", "t").first()
    import statistics as st

    m1, m2 = st.mean(t_arm), st.mean(c_arm)
    v1, v2 = st.variance(t_arm), st.variance(c_arm)
    se2 = v1 / 4 + v2 / 3
    t_ref = (m1 - m2) / se2**0.5
    df_ref = se2**2 / ((v1 / 4) ** 2 / 3 + (v2 / 3) ** 2 / 2)
    assert r.t_stat == round(t_ref, 6)
    assert r.df == round(df_ref, 6)
    assert r.diff == round(m1 - m2, 6)

    same = [(float(i % 7), i % 2) for i in range(280)]
    r0 = welch_ttest(spark.createDataFrame(same, ["y", "t"]), "y", "t").first()
    assert r0.t_stat == 0.0 and r0.diff == 0.0
