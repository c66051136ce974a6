"""Round-6 operator tests: sequence packing, largest-remainder budget
allocation, cross-split leakage audit, Zipf fit, effective sample size."""

from pyspark.sql import functions as F


def test_sequence_packing_hand_case(spark):
    """Docs of 3/4/2 tokens, budget 4: pack layout, boundary straddlers,
    and token conservation are all hand-checkable."""
    from gridmet_etl_spark.operators.packing import sequence_packing

    docs = spark.createDataFrame(
        [
            ("s", 1, "a b c"),          # span [0,3)  -> pack 0
            ("s", 2, "d e f g"),        # span [3,7)  -> packs 0-1 (straddles)
            ("s", 3, "h i"),            # span [7,9)  -> packs 1-2 (straddles)
        ],
        ["source", "doc_id", "text"],
    )
    out = {r.pack_id: r for r in sequence_packing(docs, 4).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n_docs, out[0].n_boundary_docs, out[0].n_tokens,
            out[0].n_docs_started) == (2, 1, 4, 2)
    assert (out[1].n_docs, out[1].n_boundary_docs, out[1].n_tokens,
            out[1].n_docs_started) == (2, 2, 4, 1)
    assert (out[2].n_docs, out[2].n_boundary_docs, out[2].n_tokens,
            out[2].n_docs_started) == (1, 1, 1, 0)
    # conservation: pack tokens sum to corpus tokens; all but last full
    assert sum(r.n_tokens for r in out.values()) == 9


def test_sequence_packing_shards_independent(spark):
    """Packing restarts per shard — shard B's first pack is pack 0."""
    from gridmet_etl_spark.operators.packing import sequence_packing

    docs = spark.createDataFrame(
        [("A", 1, "a b c d e"), ("B", 1, "x y")],
        ["source", "doc_id", "text"],
    )
    rows = sequence_packing(docs, 4).collect()
    b = [r for r in rows if r.shard == "B"]
    assert len(b) == 1 and b[0].pack_id == 0 and b[0].n_tokens == 2
    assert sum(r.n_tokens for r in rows if r.shard == "A") == 5


def test_largest_remainder_alloc_exact_budget(spark):
    """Hamilton apportionment: Σ alloc == budget exactly, every alloc is
    floor or floor+1, and extras go to the largest remainders (hand case:
    weights 5/4/2, budget 7 -> quotas 3/3/1 with b taking the extra)."""
    from gridmet_etl_spark.operators.packing import largest_remainder_alloc

    w = spark.createDataFrame([("a", 5), ("b", 4), ("c", 2)], ["source", "weight"])
    out = {r.source: r for r in largest_remainder_alloc(w, 7, ["source"], "weight").collect()}
    assert (out["a"].alloc, out["b"].alloc, out["c"].alloc) == (3, 3, 1)
    assert sum(r.alloc for r in out.values()) == 7
    assert all(r.alloc - r.base_quota in (0, 1) for r in out.values())
    # equal weights, budget 10: base 3 each, the one extra breaks ties by key
    w2 = spark.createDataFrame([("a", 1), ("b", 1), ("c", 1)], ["source", "weight"])
    out2 = {r.source: r.alloc for r in largest_remainder_alloc(w2, 10, ["source"], "weight").collect()}
    assert out2 == {"a": 4, "b": 3, "c": 3}


def test_cross_split_leakage_planted(spark):
    """Planted contamination: val doc v1 shares digest d1 with train,
    v2 is clean -> 1/2 docs (5000 e4), 1/3 digests (3333 e4)."""
    from gridmet_etl_spark.operators.decontam import cross_split_leakage

    rows = [
        ("train", "t1", "d1"), ("train", "t1", "d2"), ("train", "t2", "d2"),
        ("val", "v1", "d1"), ("val", "v1", "d9"), ("val", "v2", "d8"),
    ]
    digests = spark.createDataFrame(rows, ["split", "doc_id", "d"])
    r = cross_split_leakage(digests).collect()
    assert len(r) == 1 and r[0].split == "val"
    assert (r[0].n_docs, r[0].n_contaminated_docs) == (2, 1)
    assert r[0].contaminated_docs_e4 == 5000
    assert (r[0].n_digests, r[0].n_shared_digests) == (3, 1)
    assert r[0].shared_digests_e4 == 3333


def test_zipf_fit_recovers_power_law(spark):
    """Exact power-law frequencies (freq_i = 2400 // i): the log-log OLS
    slope lands near -1 with r2 ~ 1; flat frequencies land near 0."""
    from gridmet_etl_spark.operators.textops import zipf_fit

    text = " ".join(
        " ".join([f"w{i:02d}"] * (2400 // i)) for i in range(1, 9)
    )
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = zipf_fit(docs, k=8).first()
    assert r.k_used == 8
    assert abs(r.slope + 1.0) < 0.02
    assert r.r2 > 0.999
    assert r.n_tokens == sum(2400 // i for i in range(1, 9))
    flat = " ".join(" ".join([f"w{i}"] * 10) for i in range(8))
    r2 = zipf_fit(spark.createDataFrame([(1, flat)], ["doc_id", "text"]), k=8).first()
    assert abs(r2.slope) < 1e-9 and r2.n_types == 8


def test_effective_sample_size_kish(spark):
    """Equal weights -> ESS == n, deff == 1; one dominant weight collapses
    ESS toward 1 (exact Kish arithmetic on cents-quantized weights)."""
    from gridmet_etl_spark.operators.stats import effective_sample_size

    eq = spark.createDataFrame([("g", 2.5)] * 8, ["grp", "w"])
    r = effective_sample_size(eq, ["grp"], "w").first()
    assert (r.n, r.ess, r.deff) == (8, 8.0, 1.0)
    assert r.sum_w_cents == 8 * 250
    dom = spark.createDataFrame(
        [("g", 100.0)] + [("g", 1.0)] * 9, ["grp", "w"]
    )
    r2 = effective_sample_size(dom, ["grp"], "w").first()
    expect = (10900**2) / (10000**2 + 9 * 100**2)
    assert abs(r2.ess - expect) < 1e-6
    assert r2.deff > 8  # 10 rows worth ~1.2 effective samples


def test_lsh_band_sweep_identical_pair_all_configs(spark):
    """Two byte-identical docs share every minhash, hence every band key
    in EVERY (bands, rows) config: the pair is truth AND candidate across
    the sweep, so recall_e4 == 10000 on all 5 rows; counts stay
    consistent (n_hit <= min(n_cand, n_true))."""
    from gridmet_etl_spark.operators.dedup import lsh_band_sweep

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely unrelated words xyz qqq")],
        ["doc_id", "text"],
    )
    rows = lsh_band_sweep(docs).collect()
    assert len(rows) == 5
    assert {r.rows_per_band for r in rows} == {1, 2, 4, 8, 16}
    for r in rows:
        assert r.n_true == 1
        assert r.n_hit >= 1 and r.n_hit <= min(r.n_cand, r.n_true)
        assert r.recall_e4 == 10000
        assert r.n_bands == -(-16 // r.rows_per_band)
    # theory threshold is monotone in rows-per-band: stricter banding,
    # higher collision threshold
    by_r = sorted(rows, key=lambda x: x.rows_per_band)
    assert all(
        a.thr_theory_e4 <= b.thr_theory_e4 for a, b in zip(by_r, by_r[1:])
    )


def test_lsh_band_sweep_zero_candidate_configs_still_report(spark):
    """ADVICE r6: a corpus with NO band collisions anywhere must still
    emit all 5 config rows with n_cand = n_hit = 0 (the oracle's UNION
    ALL of scalar subqueries always does) — 'this banding finds nothing'
    is the advisor's most important data point."""
    from gridmet_etl_spark.operators.dedup import lsh_band_sweep

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "rot blau gruen gelb violett braun"),
        ],
        ["doc_id", "text"],
    )
    rows = lsh_band_sweep(docs).collect()
    assert len(rows) == 5
    assert {r.rows_per_band for r in rows} == {1, 2, 4, 8, 16}
    for r in rows:
        assert r.n_true == 0
        assert r.n_hit == 0
        assert r.recall_e4 == 0 and (r.n_cand == 0) == (r.precision_e4 == 0)
        # zero-candidate configs may exist and must not drop the row
        assert r.n_cand >= 0


def test_ivf_nprobe_sweep_monotone_and_exact_at_full_probe(spark):
    """Recall is non-decreasing in probe depth and EXACTLY 10000 at full
    probe (cluster assignment partitions the corpus, so probing every
    cell IS brute force); scanned rows grow to |queries|·|corpus|."""
    import math

    from gridmet_etl_spark.operators.similarity import (
        ivf_centroids,
        ivf_nprobe_sweep,
    )

    n, dim = 80, 4
    rows = [
        (i, [math.sin(i * 0.7 + d) + 0.01 * ((i * 7 + d) % 5) for d in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = ivf_centroids(emb, n_centroids=8)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sorted(
        ivf_nprobe_sweep(
            emb, queries, cents, k=5, probes=(1, 2, 4, 8), rank_round=6
        ).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in out] == [1, 2, 4, 8]
    assert all(r.n_queries == 3 and r.n_truth_pairs == 15 for r in out)
    recalls = [r.recall_e4 for r in out]
    assert recalls == sorted(recalls)
    assert out[-1].recall_e4 == 10000  # full probe == exact
    scans = [r.n_scanned_rows for r in out]
    assert scans == sorted(scans)
    assert out[-1].n_scanned_rows == 3 * n


def test_cohen_kappa_hand_cases(spark):
    """Perfect agreement -> kappa 1; the constant-majority rater gets
    high accuracy but kappa 0 (the chance correction working); a planted
    2x2 case matches the closed form."""
    from gridmet_etl_spark.operators.stats import cohen_kappa

    perfect = spark.createDataFrame(
        [("en", "en")] * 7 + [("de", "de")] * 3, ["a", "b"]
    )
    r = cohen_kappa(perfect, "a", "b").first()
    assert (r.po, r.kappa) == (1.0, 1.0)
    # rater b always says 'en': po = 0.7 but pe = 0.7 too -> kappa 0
    const = spark.createDataFrame(
        [("en", "en")] * 7 + [("de", "en")] * 3, ["a", "b"]
    )
    r2 = cohen_kappa(const, "a", "b").first()
    assert r2.po == 0.7 and r2.kappa == 0.0
    # textbook 2x2: conf [[20, 5], [10, 15]] -> po=0.7, pe=0.5, kappa=0.4
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5 + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    r3 = cohen_kappa(spark.createDataFrame(rows, ["a", "b"]), "a", "b").first()
    assert (r3.n, r3.n_agree) == (50, 35)
    assert (r3.po, r3.pe, r3.kappa) == (0.7, 0.5, 0.4)


def test_group_kfold_no_group_straddles(spark):
    """Every row of a group lands in ONE fold; totals conserve; the class
    balance columns add up."""
    from gridmet_etl_spark.operators.sampling import group_kfold

    rows = [(g, 1 if (g + i) % 3 == 0 else 0) for g in range(40) for i in range(3)]
    df = spark.createDataFrame(rows, ["grp", "y"])
    rep = group_kfold(df, "grp", k=4, label_col="y").collect()
    assert sum(r.n_rows for r in rep) == 120
    assert sum(r.n_groups for r in rep) == 40
    assert sum(r.n_pos for r in rep) == sum(y for _g, y in rows)
    # leakage check: assigning folds twice (by group) yields 1 fold/group
    from gridmet_etl_spark.operators.sampling import hash_bucket
    from pyspark.sql import functions as FF

    per_group = (
        df.select("grp", (hash_bucket(FF.col("grp"), "fold") % 4).alias("f"))
        .groupBy("grp")
        .agg(FF.countDistinct("f").alias("nf"))
    )
    assert per_group.agg(FF.max("nf")).first()[0] == 1


def test_novelty_curve_planted_decay(spark):
    """Bucket 0 is all-new (10000 e4); a bucket that only repeats earlier
    content scores 0; a half-new bucket scores 5000; cumulative new
    digests equal the corpus-wide distinct count."""
    from gridmet_etl_spark.operators.dedup import novelty_curve

    w8 = lambda w: " ".join([w] * 8)  # noqa: E731 - one digest per word
    # ids 0..5 -> 3 buckets of 2 docs (n_buckets=3, max id 5)
    rows = [
        (0, w8("a") + " " + w8("b")), (1, w8("c") + " " + w8("d")),  # bucket 0
        (2, w8("a") + " " + w8("b")), (3, w8("c") + " " + w8("d")),  # bucket 1: all repeats
        (4, w8("a") + " " + w8("e")), (5, w8("f") + " " + w8("g")),  # bucket 2: 3 of 4 new
    ]
    out = {r.bucket: r for r in novelty_curve(
        spark.createDataFrame(rows, ["doc_id", "text"]), n_buckets=3
    ).collect()}
    assert out[0].new_e4 == 10000 and out[0].n_new_digests == 4
    assert out[1].new_e4 == 0 and out[1].n_new_digests == 0
    assert out[2].n_digests == 4 and out[2].n_new_digests == 3
    assert out[2].new_e4 == 7500
    assert out[2].cum_new_digests == 7  # a b c d e f g


def test_truncation_report_hand_case(spark):
    """Budget 4: a 6-token doc loses 2 tokens; rates are exact scaled
    integers."""
    from gridmet_etl_spark.operators.packing import truncation_report

    docs = spark.createDataFrame(
        [("A", "a b c"), ("A", "a b c d e f"), ("B", "x y z w")],
        ["source", "text"],
    )
    out = {r.shard: r for r in truncation_report(docs, 4).collect()}
    assert (out["A"].n_docs, out["A"].n_tokens) == (2, 9)
    assert (out["A"].n_over_budget, out["A"].tokens_lost) == (1, 2)
    assert out["A"].over_e4 == 5000
    assert out["A"].lost_e4 == 2 * 10000 // 9
    assert (out["B"].n_over_budget, out["B"].tokens_lost) == (0, 0)


def test_source_jsd_identical_zero_disjoint_ln2(spark):
    """Identical token distributions -> JSD 0; fully disjoint -> ln 2
    (the JSD upper bound); a mixed pair lands strictly between."""
    import math

    from gridmet_etl_spark.operators.textops import source_jsd

    docs = spark.createDataFrame(
        [
            ("s1", "aa bb aa bb"), ("s2", "aa bb aa bb"),  # identical
            ("s3", "cc dd cc dd"),                           # disjoint from s1/s2
        ],
        ["source", "text"],
    )
    out = {(r.source_a, r.source_b): r for r in source_jsd(docs, k=10).collect()}
    assert out[("s1", "s2")].jsd == 0.0
    assert out[("s1", "s2")].n_shared_topk == 2
    assert abs(out[("s1", "s3")].jsd - math.log(2)) < 1e-6  # 6-dp output
    assert out[("s1", "s3")].n_shared_topk == 0


def test_source_entropy_uniform_vs_constant(spark):
    """Uniform over 4 types -> H = ln 4, norm 1; constant single token ->
    H = 0; a skewed source lands strictly between (hand-exact)."""
    import math

    from gridmet_etl_spark.operators.textops import source_entropy

    docs = spark.createDataFrame(
        [
            ("u", "a b c d a b c d"),   # uniform over 4 types
            ("k", "x x x x x x"),       # constant
            ("s", "y y y z"),           # p = (3/4, 1/4)
        ],
        ["source", "text"],
    )
    out = {r.source: r for r in source_entropy(docs).collect()}
    assert abs(out["u"].entropy - math.log(4)) < 1e-6
    assert out["u"].norm_entropy == 1.0
    assert (out["k"].entropy, out["k"].norm_entropy) == (0.0, 0.0)
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(out["s"].entropy - h) < 1e-6
    assert (out["u"].n_tokens, out["u"].n_types) == (8, 4)
