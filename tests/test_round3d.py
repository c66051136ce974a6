"""Round-3 session-A operators: maximal duplicated spans, calibration
bins, incremental aggregate refresh, and the bucketed (SMB) join proof."""

import pytest
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.dedup import max_dup_spans
from gridmet_etl_spark.operators.incremental import (
    agg_state,
    merge_states,
    refresh,
    with_read_time_cols,
)
from gridmet_etl_spark.operators.scoring import calibration_bins


# ---------------------------------------------------------------------------
# max_dup_spans
# ---------------------------------------------------------------------------


def test_dup_span_found_at_unaligned_offset(spark):
    """A 10-token run shared at DIFFERENT offsets (3 vs 0) — invisible to
    fixed-aligned chunking unless it straddles a boundary, found here."""
    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "a b c " + shared + " x y z"),
            (2, shared + " p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in max_dup_spans(docs, min_tokens=8).collect()}
    assert out[1]["span_start"] == 3 and out[1]["span_len"] == 10
    assert out[2]["span_start"] == 0 and out[2]["span_len"] == 10


def test_dup_spans_merge_adjacent_windows(spark):
    """A 20-token duplicated run yields ONE maximal span, not 13 windows."""
    shared = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, shared + " end1 end2 end3"), (2, "pre1 pre2 " + shared)],
        "doc_id long, text string",
    )
    rows = max_dup_spans(docs, min_tokens=8).collect()
    assert len(rows) == 2
    assert all(r["span_len"] == 20 for r in rows)


def test_dup_spans_short_docs_and_no_dups(spark):
    docs = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a completely different document here today ok fine")],
        "doc_id long, text string",
    )
    assert max_dup_spans(docs, min_tokens=8).count() == 0


def test_dup_spans_within_one_doc(spark):
    """Internal repetition (same gram twice in ONE doc) is marked too."""
    rep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, rep + " mid1 mid2 " + rep)], "doc_id long, text string"
    )
    rows = max_dup_spans(docs, min_tokens=8).collect()
    starts = sorted(r["span_start"] for r in rows)
    assert starts == [0, 10]


# ---------------------------------------------------------------------------
# calibration_bins
# ---------------------------------------------------------------------------


def test_calibration_perfect_and_boundary(spark):
    # score exactly 1.0 must land in the top bin (least(floor(10), 9))
    df = spark.createDataFrame(
        [(1.0, 1), (1.0, 1), (0.0, 0), (0.55, 1), (0.55, 0)],
        "score double, label int",
    )
    bins = {r["bin"]: r for r in calibration_bins(df).collect()}
    assert bins[9]["n"] == 2 and bins[9]["frac_pos"] == 1.0 and bins[9]["brier"] == 0.0
    assert bins[0]["brier"] == 0.0
    assert bins[5]["n"] == 2 and abs(bins[5]["frac_pos"] - 0.5) < 1e-9
    # bin 5 brier: mean((0.55-1)^2, (0.55-0)^2) = (0.2025+0.3025)/2
    assert abs(bins[5]["brier"] - 0.2525) < 1e-6


def test_global_brier_recomposes_from_bins(spark):
    import random

    rng = random.Random(7)
    rows = [(round(rng.random(), 3), rng.randint(0, 1)) for _ in range(500)]
    df = spark.createDataFrame(rows, "score double, label int")
    bins = calibration_bins(df).collect()
    total = sum(r["n"] for r in bins)
    recomposed = sum(r["n"] * r["brier"] for r in bins) / total
    expected = sum((s - y) ** 2 for s, y in rows) / len(rows)
    assert abs(recomposed - expected) < 1e-4


# ---------------------------------------------------------------------------
# incremental refresh
# ---------------------------------------------------------------------------


def test_refresh_equals_full_recompute_any_split(spark):
    import random

    rng = random.Random(11)
    rows = [(rng.randint(0, 20), rng.randint(0, 9), round(rng.uniform(-5, 100), 2)) for _ in range(400)]
    df = spark.createDataFrame(rows, "k int, part int, v double")
    full = {r["k"]: r for r in agg_state(df, ["k"], "v").collect()}
    for cut in (0, 3, 9):
        hist = df.where(F.col("part") < cut)
        delta = df.where(F.col("part") >= cut)
        merged = {r["k"]: r for r in refresh(hist, delta, ["k"], "v").collect()}
        assert set(merged) == set(full)
        for k, r in full.items():
            m = merged[k]
            assert m["cnt"] == r["cnt"]
            assert abs(m["total"] - r["total"]) < 1e-6
            assert m["vmin"] == r["vmin"] and m["vmax"] == r["vmax"]


def test_merge_is_associative_and_keeps_one_sided_keys(spark):
    a = spark.createDataFrame([(1, 2, 10.0, 3.0, 7.0)], "k int, cnt long, total double, vmin double, vmax double")
    b = spark.createDataFrame([(2, 1, 5.0, 5.0, 5.0)], "k int, cnt long, total double, vmin double, vmax double")
    m = {r["k"]: r for r in merge_states(a, b, ["k"]).collect()}
    assert m[1]["cnt"] == 2 and m[2]["cnt"] == 1
    out = with_read_time_cols(merge_states(a, b, ["k"])).where(F.col("k") == 1).collect()[0]
    assert abs(out["vavg"] - 5.0) < 1e-9


# ---------------------------------------------------------------------------
# bucketed (sort-merge-bucket) join: co-located, shuffle-free
# ---------------------------------------------------------------------------


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides written bucketBy(8, key) → the equi join plans with ZERO
    Exchange operators: the disk layout carries the partitioning, which is
    the co-located-join strategy for repeatedly-joined 100 TB tables
    (pay the shuffle once at write time, never at read time)."""
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 1000, 3).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("b")
    )
    left.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bleft")
    right.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bright")
    try:
        # disable auto-broadcast so the test exercises the SMB path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bleft").join(spark.table("t_bright"), "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange" not in plan, plan
        assert joined.count() == 334
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


# ---------------------------------------------------------------------------
# quantile normalization
# ---------------------------------------------------------------------------


def test_quantile_normalize_aligns_distributions(spark):
    """Two groups with shifted distributions: after normalization each
    group's value multiset equals the same global-quantile sample, and
    within-group order is preserved."""
    from gridmet_etl_spark.operators.mlprep import quantile_normalize

    rows = [(i, "a", float(i)) for i in range(10)] + [
        (100 + i, "b", 1000.0 + 2 * i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = quantile_normalize(df, "g", "v", "id").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["v"], r["qnorm"]))
    # same-size groups -> identical qnorm multisets
    qa = sorted(q for _, q in by_g["a"])
    qb = sorted(q for _, q in by_g["b"])
    assert qa == qb
    # monotone within group
    for g in ("a", "b"):
        s = sorted(by_g[g])
        assert [q for _, q in s] == sorted(q for _, q in s)
    # extremes map to global extremes
    assert min(qa) == 0.0 and max(qa) == 1018.0


def test_quantile_normalize_single_row_group(spark):
    from gridmet_etl_spark.operators.mlprep import quantile_normalize

    rows = [(1, "solo", 5.0)] + [(10 + i, "big", float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r["id"]: r["qnorm"] for r in quantile_normalize(df, "g", "v", "id").collect()}
    # solo group pins pr=0.5 -> global median-ish element (idx = 1 + floor(0.5*9) = 5)
    ordered = sorted([5.0] + [float(i) for i in range(9)])
    assert out[1] == ordered[4]


# ---------------------------------------------------------------------------
# CUSUM change points
# ---------------------------------------------------------------------------


def test_cusum_matches_sequential_recursion(spark):
    """The windowed reflection form (cumsum − running min) must equal the
    textbook max(0, s+z−k) recursion computed sequentially, including the
    detection of a deliberate level shift."""
    import random

    rng = random.Random(3)
    vals = [rng.gauss(0, 1) for _ in range(40)] + [rng.gauss(4, 1) for _ in range(15)]
    rows = [("s", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t int, v double")

    from gridmet_etl_spark.operators.timeseries import cusum_changepoints

    h, k = 4.0, 0.5
    out = {r["t"]: r for r in cusum_changepoints(df, ["g"], "t", "v", h, k).collect()}

    # sequential reference
    n = len(vals)
    mu = sum(vals) / n
    sd = (sum((x - mu) ** 2 for x in vals) / n) ** 0.5
    sp, sn, flagged = 0.0, 0.0, {}
    for i, x in enumerate(vals):
        z = (x - mu) / sd
        sp = max(0.0, sp + z - k)
        sn = min(0.0, sn + z + k)
        if sp > h or sn < -h:
            flagged[i] = (sp, sn)
    assert set(out) == set(flagged)
    assert len(flagged) > 0  # the level shift IS detected
    for t, (sp, sn) in flagged.items():
        assert abs(out[t]["cusum_pos"] - sp) < 1e-6
        assert abs(out[t]["cusum_neg"] - sn) < 1e-6
    # two-pass standardization centers on the BLENDED mean, so the low
    # pre-shift regime flags 'down' and the post-shift regime flags 'up' —
    # both excursions are real; assert the upward shift is detected
    assert any(t >= 40 and out[t]["direction"] == "up" for t in flagged)


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------


def test_kcore_peels_tail_keeps_clique(spark):
    from gridmet_etl_spark.operators.graph import kcore

    # 4-clique (every degree 3) + a pendant chain hanging off node 0:
    # the chain peels away round by round; the clique IS the 3-core
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(0, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    out = {r["node"]: r["deg"] for r in kcore(edges, k=3, rounds=6).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(d == 3 for d in out.values())


def test_kcore_fixed_point_at_contract_depth(spark):
    """The contract query unrolls 8 rounds — assert the sf0.001 co-purchase
    graph has converged by then (round 8 == round 10)."""
    from pyspark.sql import functions as F

    from gridmet_etl_spark.operators.graph import kcore

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "ok").where(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    )
    r8 = {(r["node"], r["deg"]) for r in kcore(edges, k=3, rounds=8).collect()}
    r10 = {(r["node"], r["deg"]) for r in kcore(edges, k=3, rounds=10).collect()}
    assert r8 == r10 and len(r8) > 0
