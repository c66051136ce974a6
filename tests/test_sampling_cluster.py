"""Tests for sampling/split/shard-pack operators and connected-components
dedup clustering."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gridmet_etl_spark.operators.cluster import connected_components, dedup_clusters
from gridmet_etl_spark.operators.sampling import (
    HASH_BUCKETS,
    deterministic_split,
    hash_bucket,
    hash_sample,
    pack_shards,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.range(1000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias("grp"),
            (F.col("id") % 53 + 1).cast("long").alias("n_tokens"),
        )
        .cache()
    )


def test_hash_bucket_range_and_determinism(spark, docs):
    b = docs.select(hash_bucket(F.col("doc_id")).alias("b"))
    row = b.agg(F.min("b"), F.max("b")).first()
    assert 0 <= row[0] and row[1] < HASH_BUCKETS
    # same input → same bucket across evaluations
    a = docs.select("doc_id", hash_bucket(F.col("doc_id")).alias("b1"))
    c = docs.select("doc_id", hash_bucket(F.col("doc_id")).alias("b2"))
    assert a.join(c, "doc_id").filter("b1 <> b2").count() == 0


def test_hash_sample_fraction_and_stability(spark, docs):
    s = hash_sample(docs, 0.3)
    n = s.count()
    assert 0.2 * 1000 < n < 0.4 * 1000
    # subset-stability: sampling a subset == subset of the sample
    sub = docs.filter(F.col("doc_id") < 500)
    s_sub = {r.doc_id for r in hash_sample(sub, 0.3).collect()}
    s_full = {r.doc_id for r in s.collect() if r.doc_id < 500}
    assert s_sub == s_full


def test_deterministic_split_fractions_cover_everything(spark, docs):
    out = deterministic_split(docs)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000
    assert counts["train"] > 800 and counts["val"] > 10 and counts["test"] > 10
    # leakage-safety: adding rows never moves an existing row's split
    half = deterministic_split(docs.filter(F.col("doc_id") < 500))
    full_map = {r.doc_id: r["split"] for r in out.collect()}
    for r in half.collect():
        assert full_map[r.doc_id] == r["split"]


def test_stratified_sample_exact_counts(spark, docs):
    out = stratified_sample(docs, ["grp"], 5)
    counts = out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    assert len(counts) == 7 and all(r.n == 5 for r in counts)
    # small stratum yields its full size
    tiny = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 21))
    assert stratified_sample(tiny, ["grp"], 5).count() == 3


def test_pack_shards_matches_naive_global_window(spark, docs):
    budget = 500
    got = pack_shards(docs, budget, group_width=97)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = docs.select(
        "doc_id",
        "n_tokens",
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget).cast("long").alias("shard"),
    )
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0
    # group_width must not affect the result
    other = pack_shards(docs, budget, group_width=1_000_000)
    assert got.exceptAll(other).count() == 0


def test_pack_shards_budget_property(spark, docs):
    budget = 500
    out = pack_shards(docs, budget, group_width=100)
    per_shard = out.groupBy("shard").agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
    # each shard holds ≥ budget once the doc that crosses the line is added,
    # and never exceeds budget + the crossing doc's size
    bad = per_shard.filter(F.col("tot") > budget + F.col("mx")).count()
    assert bad == 0


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (diameter 4), pair 10-11, triangle 20-21-22
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {(r.node, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)}


def test_dedup_clusters_singletons_and_canonicals(spark):
    docs = spark.range(8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 3), (3, 6)], ["doc_a", "doc_b"])
    out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in dedup_clusters(pairs, docs).collect()}
    assert out[0] == (0, True) and out[3] == (0, False) and out[6] == (0, False)
    for i in [1, 2, 4, 5, 7]:
        assert out[i] == (i, True)
    # exactly one canonical per cluster
    assert sum(1 for c, canon in out.values() if canon) == 6


def test_mixture_sample_quotas_and_determinism(spark, docs):
    from gridmet_etl_spark.operators.sampling import mixture_sample

    mix = {"g0": 20, "g1": 5, "g2": 300}  # g2 quota exceeds stratum size
    out = mixture_sample(docs, "grp", mix)
    counts = {r.grp: r.n for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # g0/g1 hit their quotas, g2 yields its full size (1000/7 ≈ 143), others dropped
    assert counts["g0"] == 20 and counts["g1"] == 5
    assert counts["g2"] == docs.filter(F.col("grp") == "g2").count()
    assert set(counts) == {"g0", "g1", "g2"}
    # deterministic across evaluations
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in mixture_sample(docs, "grp", mix).collect()}
    assert a == b


def test_connected_components_raises_when_not_converged(spark):
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3)
    # and converges fine with enough rounds
    got = connected_components(pairs, max_iter=15)
    assert got.filter("cluster_id <> 0").count() == 0
