"""Round-9 ext28 distribution-shape tests: numpy references for
source_hellinger, Fano burstiness, and Gini impurity."""

import numpy as np


def test_source_hellinger_matches_numpy(spark):
    from gridmet_etl_spark.operators.textops import source_hellinger

    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    # source A: uniform-ish; source B: skewed to the first words
    for _ in range(400):
        rows.append(("A", " ".join(rng.choice(vocab, 8))))
    pb = np.linspace(2.0, 0.1, 30)
    pb /= pb.sum()
    for _ in range(400):
        rows.append(("B", " ".join(rng.choice(vocab, 8, p=pb))))
    df = spark.createDataFrame(rows, "source string, text string")
    out = source_hellinger(df, k=30).collect()
    assert len(out) == 1
    r = out[0]
    # numpy reference over the same top-30 (here: all) vocabulary
    import collections

    ca, cb = collections.Counter(), collections.Counter()
    for s, t in rows:
        (ca if s == "A" else cb).update(t.split(" "))
    ta, tb = sum(ca.values()), sum(cb.values())
    bc = sum(
        np.sqrt((ca[w] / ta) * (cb[w] / tb)) for w in vocab if ca[w] and cb[w]
    )
    h_ref = np.sqrt(max(0.0, 1 - bc))
    assert abs(r["hellinger"] - h_ref) < 1e-5
    assert 0.05 < r["hellinger"] < 0.9  # genuinely different, not disjoint


def test_hellinger_identical_sources_zero(spark):
    from gridmet_etl_spark.operators.textops import source_hellinger

    rows = [("A", "x y z"), ("B", "x y z")] * 50
    df = spark.createDataFrame(rows, "source string, text string")
    r = source_hellinger(df, k=10).collect()[0]
    # e12 term quantization floors BC at 1 - k*1e-12, so H bottoms out at
    # ~sqrt(k*1e-12) ~ 2e-6 instead of exactly 0 — the price of the
    # shuffle-order-proof integer sum
    assert r["hellinger"] <= 2e-6


def test_fano_poisson_near_one_bursty_above(spark):
    import datetime

    rng = np.random.RandomState(7)
    d0 = datetime.date(2024, 1, 1)
    rows = []
    for i, v in enumerate(rng.poisson(20, 300)):
        rows.append(("poisson", d0 + datetime.timedelta(days=i), int(max(v, 1))))
    for i in range(300):  # bursty: mostly 1, spikes of 200
        v = 200 if i % 30 == 0 else 1
        rows.append(("bursty", d0 + datetime.timedelta(days=i), v))
    # feed counts directly through the same math the query uses
    df = spark.createDataFrame(rows, "event_type string, day date, v long")
    from pyspark.sql import functions as F

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    acc = df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(dec(F.col("v"))).alias("s"),
        F.sum(dec(F.col("v")) * F.col("v")).alias("q"),
    ).collect()
    stats = {}
    for r in acc:
        n, s, q = r["n_days"], float(r["s"]), float(r["q"])
        mean = s / n
        var = (n * q - s * s) / (n * (n - 1))
        stats[r["event_type"]] = var / mean
    vals = {
        k: np.array([v for t, _, v in rows if t == k], float)
        for k in ("poisson", "bursty")
    }
    for k in stats:
        ref = vals[k].var(ddof=1) / vals[k].mean()
        assert abs(stats[k] - ref) < 1e-6
    assert stats["poisson"] < 3
    assert stats["bursty"] > 50


def test_gini_impurity_pure_and_uniform(spark):
    from offpath_queries.contract_ext28 import q_gini_impurity
    import tempfile, os

    # synthesize a documents table: source P pure, source U uniform over 4
    rows = [(i, "t", "en", "P", 1) for i in range(100)]
    rows += [(1000 + i, "t", ["en", "de", "fr", "es"][i % 4], "U", 1) for i in range(100)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in q_gini_impurity(spark, d).collect()}
    assert out["P"]["gini_impurity"] == 0.0
    assert abs(out["U"]["gini_impurity"] - 0.75) < 1e-9
    assert out["U"]["n_langs"] == 4
    assert abs(out["U"]["majority_share"] - 0.25) < 1e-9
